package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), local[4], graft's session
  * policy, small shuffle. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession =
    graft.core.Sessions.builder("local[4]", 4).appName("graft-test").getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)
}

package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** The gates part of the batch workload: a fixed list of
  * `SparkEntry.queries` gates under Bench's session config. Each gate is
  * constructed (the gate call, with any eager jobs it runs) and then
  * executed into the noop sink, timed separately, with `clearCache` between
  * gates outside the timing. */
final class Gates(p: Main.Params, workDir: String) {
  private val dir = p("tables")
  private val gates: Seq[String] = p("gates").split(",").toSeq
  private val out = s"$workDir/gates_out"

  def setup(spark: SparkSession): Unit = {
    val missing = gates.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown gates: ${missing.mkString(", ")}")
    graft.core.Tables.names.foreach(graft.core.Tables.table(spark, dir, _))
  }

  def warmup(spark: SparkSession): Unit = {
    // Bench's warm-up gate
    SparkEntry.queries("q_agg_metrics")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
  }

  private val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]

  def result(t0: Double): Map[String, Any] =
    Map("t0" -> t0, "cols" -> Seq("pass", "gate", "start", "built", "end"),
      "samples" -> rows.toSeq)

  /** Every gate once. */
  def runPass(spark: SparkSession, tr: Tracer, pass: Int): Unit = {
    val kind = if (pass == 1) "cold" else "warm"
    tr.span(s"gates.$kind", s"p$pass") {
      gates.foreach { g =>
        val id = s"p$pass-$g"
        tr.span(s"gate.$g", id) {
          val c0 = tr.nowMs
          val df = tr.span(s"gate.$g.construct", id)(
            SparkEntry.queries(g)(spark, dir))
          val c1 = tr.nowMs
          tr.span(s"gate.$g.execute", id)(
            df.write.format("noop").mode("overwrite").save())
          rows += Seq(pass, g, c0, c1, tr.nowMs)
        }
        spark.catalog.clearCache()
      }
    }
  }

  /** Untimed, after the measured passes: the Verify-style dump of each
    * gate's result (one parquet file) that the oracle check reads. */
  def check(spark: SparkSession): Map[String, Any] = {
    val failed = gates.flatMap { g =>
      try {
        SparkEntry.queries(g)(spark, dir).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$g")
        None
      } catch { case e: Throwable => Some(g -> String.valueOf(e.getMessage)) }
      finally spark.catalog.clearCache()
    }.toMap
    val tag = graft.entry.Sql.sfTag(dir)
    val oracle = gates.flatMap(g => SparkEntry.oracleSql.get(g)
      .map(g -> _.replace(graft.entry.Sql.SfPlaceholder, tag))).toMap
    Map("out_dir" -> out, "failed" -> failed, "oracle_sql" -> oracle)
  }
}

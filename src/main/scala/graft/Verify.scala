package graft
import java.nio.file.{Files, Paths}
import graft.core.Sessions
import graft.service.MiniJson
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val only = args.drop(2).toSet // optional subset for local iteration
    // a typo'd gate name would otherwise run no gate and still write the
    // whole oracle_sql.json, which the compare then passes as empty
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_MASTER=local-cluster[2,2,1536] runs the WHOLE gate suite
    // on real forked executor JVMs (the ClusterShapeSpec topology) — the
    // evidence path for executor-side serialization/codegen assumptions.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder = Sessions.builder(master, cpus.toInt)
    if (master.startsWith("local-cluster")) {
      // standalone Worker resolves sparkHome from spark.test.home
      sys.props("spark.test.home") = "/opt/spark"
      // Spark itself adds the JDK module opens to the executor JVMs
      builder.config("spark.executor.extraClassPath",
        sys.props("java.class.path"))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // oracle-aux materialization is Verify-only plumbing; Bench leaves it
    // off so its timings measure the operator, not the compare harness
    graft.entry.Aux.enabled = true
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // release per-gate persisted frames (aux-writing gates cache one)
      spark.catalog.clearCache()
    }
    // aux-reading oracles address files keyed by scale factor — resolve the
    // {SF} placeholder to THIS run's data dir so a later run at another
    // scale cannot clobber what the pending compare reads
    val sfTag = graft.entry.Sql.sfTag(sfDir)
    // escapes every control char: a tab or CR in oracle SQL must not break
    // the compare's json.load
    def q(s: String): String = "\"" + MiniJson.escape(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace(graft.entry.Sql.SfPlaceholder, sfTag))}"
      }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}

package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The batch workload: the gates and the ETL pipeline in one JVM. Each pass
  * runs every gate once (Bench's session) and then one unified and one
  * staged pipeline run (a session with HttpMain's SQL settings on the same
  * context). Pass 1 is cold. */
final class Batch(p: Main.Params, workDir: String) extends Main.Workload {
  private val gates = new Gates(p, workDir)
  private val etl = new Etl(p, workDir)
  private val nPasses = p.int("passes")
  private var etlSession: SparkSession = _

  def setup(spark: SparkSession): Unit = {
    gates.setup(spark)
    etlSession = etl.session(spark)
    etl.setup(etlSession)
  }

  def warmup(spark: SparkSession): Unit = gates.warmup(spark)

  def run(spark: SparkSession, tr: Tracer): Map[String, Any] = {
    val t0 = tr.nowMs
    val cpu = (1 to nPasses).map { pass =>
      Main.cpuMs {
        gates.runPass(spark, tr, pass)
        etl.runPass(etlSession, tr, pass)
      }
    }
    if (tr.enabled) etl.ioProbe(etlSession, tr)
    Map("gates" -> gates.result(t0), "etl" -> etl.result(t0), "pass_cpu_ms" -> cpu)
  }

  def check(spark: SparkSession): Map[String, Any] =
    Map("gates" -> gates.check(spark))

  def teardown(): Unit = etl.teardown()
}

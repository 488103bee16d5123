package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One workload run in a fresh JVM:
  *
  *   Main <workDir>
  *
  * `<workDir>/params.properties` (written by `perfbench/run.py`) names the
  * workload, the amount of work, whether to trace, the core count and the
  * workload's generated inputs. The run sets up `setup_reps` times (a fresh
  * session each time; the first set-up counts from JVM start), warms up
  * once, measures the workload, writes the outputs the checks read, and
  * leaves
  * `<workDir>/result.json` with every raw sample. All statistics are
  * computed by the Python side. */
object Main {
  trait Workload {
    /** Prepare a fresh session: server and table/input resolution. Timed,
      * and repeated `setup_reps` times. */
    def setup(spark: SparkSession): Unit
    /** Once, after the last set-up, outside every timing: the first call of
      * each operation kind, so lazy initialisation is not measured. */
    def warmup(spark: SparkSession): Unit
    /** The measured phase: a fixed amount of work set by the parameters. */
    def run(spark: SparkSession, tr: Tracer): Map[String, Any]
    /** Untimed: write what the output checks read. */
    def check(spark: SparkSession): Map[String, Any]
    def teardown(): Unit
  }

  final class Params(path: String) {
    private val p = new java.util.Properties()
    locally {
      val in = Files.newBufferedReader(Paths.get(path), UTF_8)
      try p.load(in) finally in.close()
    }
    def apply(k: String): String =
      Option(p.getProperty(k)).getOrElse(sys.error(s"missing parameter $k"))
    def int(k: String): Int = apply(k).toInt
  }

  def session(workload: String, cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // keep every file the engine writes inside the run's directory
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
    workload match {
      case "batch" => // Bench's session
        b.config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC")
          // the staged pipeline routes' checkpoints stay in the run's directory
          .config("spark.hadoop.fs.file.impl", classOf[StagedDirFs].getName)
          .config(s"spark.hadoop.${StagedDirFs.To}", s"$workDir/graft_staged")
      case _ => // HttpMain's session
        b.config("spark.sql.shuffle.partitions", "32")
          .config("spark.scheduler.mode", "FAIR")
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** CPU milliseconds the whole process spent while `body` ran. */
  def cpuMs(body: => Unit): Double = {
    val c0 = processCpuNs()
    body
    (processCpuNs() - c0) / 1e6
  }

  /** CPU time of the whole JVM process (every thread), in ns. */
  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }

  /** Wait until the listener bus has delivered every job end. */
  private def drain(rec: EngineRecorder): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    var last = -1
    var stable = 0
    while (System.currentTimeMillis() < deadline && stable < 3) {
      Thread.sleep(100)
      val n = rec.eventCount
      if (n == last && !rec.anyRunning) stable += 1 else stable = 0
      last = n
    }
  }

  def main(args: Array[String]): Unit =
    try run(args(0))
    catch { case e: Throwable =>
      // the server's and Spark's threads would keep the JVM alive
      e.printStackTrace()
      sys.exit(1)
    }

  private def run(workDir: String): Unit = {
    val p = new Params(s"$workDir/params.properties")
    val name = p("workload")
    val trace = p("trace") == "1"
    val cores = p.int("cores")
    val w: Workload = name match {
      case "dashboard" => new Dashboard(p, workDir)
      case "batch" => new Batch(p, workDir)
      case other => sys.error(s"unknown workload $other")
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (rep <- 1 to p.int("setup_reps")) {
      val t0 = if (rep == 1) jvmStart else System.currentTimeMillis()
      if (spark != null) { w.teardown(); spark.stop() }
      spark = session(name, cores, workDir)
      w.setup(spark)
      setups += (System.currentTimeMillis() - t0) / 1000.0
      System.err.println(f"[perfbench] setup $rep: ${setups.last}%.3f s")
    }
    val w0 = System.currentTimeMillis()
    w.warmup(spark)
    val warmupS = (System.currentTimeMillis() - w0) / 1000.0
    val recorder = new EngineRecorder
    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder)
    }
    val tracer = new Tracer(spark.sparkContext, trace)
    val (c0, n0) = Tracer.codegen()
    val t0 = tracer.nowMs
    val measured = w.run(spark, tracer)
    val t1 = tracer.nowMs
    val (c1, n1) = Tracer.codegen()
    val hwm = vmHwmMb()
    // the engine's record ends with the measured phase, before the checks
    val engine: Map[String, Any] =
      if (trace) { drain(recorder); recorder.toJson } else Map.empty
    val checked = w.check(spark)
    w.teardown()
    val sparkVersion = spark.version
    spark.stop()
    val result = Map(
      "workload" -> name, "trace" -> trace, "cores" -> cores,
      "setup_s" -> setups.toSeq, "warmup_s" -> warmupS,
      "first_op_s" -> (w0 + warmupS * 1000.0 - jvmStart) / 1000.0,
      "peak_rss_mb" -> hwm,
      "measure_start_ms" -> t0, "measure_end_ms" -> t1,
      "codegen_ns" -> (c1 - c0), "codegen_n" -> (n1 - n0),
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> sparkVersion,
      "measured" -> measured, "check" -> checked) ++
      (if (trace) Map("spans" -> tracer.toJson,
        "engine" -> (engine + ("epoch_ms" -> tracer.epochMs)))
       else Map.empty)
    Files.write(Paths.get(s"$workDir/result.json"),
      graft.service.MiniJson.render(result).getBytes(UTF_8))
    System.err.println("[perfbench] done")
  }
}

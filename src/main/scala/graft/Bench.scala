package graft

import org.apache.spark.sql.SparkSession
import graft.core.Sessions

/** Benchmark main: executes every registered query end-to-end (noop sink —
  * full plan execution, no driver collect) on SPARK_GRAFT_SF_DIR and prints
  * one JSON line with total + per-query seconds.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt)
      .appName("graft-bench")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm the session (JIT, codegen cache, parquet footers) outside timing
    SparkEntry.queries.get("q_agg_metrics")
      .foreach(q => q(spark, sfDir).write.format("noop").mode("overwrite").save())

    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).mkString(" ")
      catch { case _: Throwable => "unavailable" }
    val loadStart = loadavg

    def timeOne(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val dt = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      // gates that serve two actions persist their shared frame; release it
      // so caches never accumulate across the suite (outside the timing)
      spark.catalog.clearCache()
      // iterative gates localCheckpoint per round; those blocks free only
      // when the driver GCs (ContextCleaner rides GC). A big-heap suite
      // run can outpace GC and let block storage crowd the shared
      // driver/executor JVM, progressively degrading LATER gates — the
      // knob keeps long suite runs measurement-clean without taxing
      // single-gate runs
      if (sys.env.get("GRAFT_BENCH_GC").contains("1")) System.gc()
      dt
    }

    // A loaded driver box produces phantom outliers (a 3 s query recorded
    // at 14 s). Queries past the retry threshold get a second run and keep
    // the MIN — re-measurement cost stays bounded by the outlier tail, and
    // the artifact self-describes ambient load via /proc/loadavg.
    // The default threshold SCALES with the data: 2.5 s is right up to
    // sf0.1, but at sf1 most gates legitimately exceed it and a fixed
    // threshold degenerates into re-running a third of the suite (r9's
    // sf1 artifact: retried 113/327, ~2× wall cost for no signal) — so
    // the default is max(2.5, 25·sf) from the dir's BASENAME sf tag
    // (regex-scanning the whole path would mis-scale on any earlier
    // segment containing "sf<digits>"), and GRAFT_BENCH_RETRY_SEC still
    // overrides explicitly.
    val sfNum = "^sf([0-9]+(?:\\.[0-9]+)?)$".r
      .findFirstMatchIn(graft.entry.Sql.sfTag(sfDir))
      .map(_.group(1).toDouble).getOrElse(0.1)
    val retrySec = sys.env.get("GRAFT_BENCH_RETRY_SEC").map(_.toDouble)
      .getOrElse(math.max(2.5, 25.0 * sfNum))
    var nRetried = 0
    val only = args.toSet // optional subset for local iteration
    // a typo'd gate name would otherwise run an EMPTY suite and still
    // write a plausible-looking {"value":0.000} artifact — fail loudly
    val unknown = only.diff(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"[bench] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
    // Single-shot sf1 numbers carry ±50% spread (documented postmortems:
    // r9's 344 s twin, r10's 23.3-vs-15.2 s q_set_sim_join), so the
    // committed comparator is min-of-runs. GRAFT_BENCH_PASSES=N sweeps
    // the whole suite N times and keeps each gate's MIN (failed runs
    // never overwrite a good measurement); the artifact reports both the
    // min map ("queries" — cross-round comparable) and the UNtouched
    // first-pass, first-attempt times ("queries_first" — the honest
    // single-shot run), plus each pass's wall total.
    val passes = math.max(1, sys.env.get("GRAFT_BENCH_PASSES")
      .map(_.toInt).getOrElse(1))
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val firsts = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val passTotals = scala.collection.mutable.ArrayBuffer.empty[Double]
    // a stored failure (-1) is REPLACEABLE: comparing it as an ordinary
    // min would let a pass-1 crash permanently block a later successful
    // measurement (-1 > v is false for every real time)
    def keep(name: String, v: Double): Unit = {
      val cur = best.get(name)
      if (v >= 0 && (cur.isEmpty || cur.get < 0 || cur.get > v))
        best(name) = v
      else if (cur.isEmpty) best(name) = v
    }
    (1 to passes).foreach { pass =>
      val passVals = gates.map { case (name, fn) =>
        System.err.println(s"[bench] start $name (pass $pass/$passes)")
        val first = timeOne(name, fn)
        if (pass == 1) firsts(name) = first
        val dt =
          if (first > retrySec) {
            nRetried += 1
            System.err.println(f"[bench] retry $name (first $first%.2f s)")
            val second = timeOne(name, fn)
            if (second >= 0) math.min(first, second) else first
          } else first
        keep(name, dt)
        dt
      }
      passTotals += passVals.filter(_ >= 0).sum
    }
    def jmap(m: scala.collection.Map[String, Double]): String =
      gates.map(_._1).map(k => "\"" + k + "\":" + f"${m(k)}%.3f")
        .mkString("{", ",", "}")
    val qs = jmap(best)
    val qsFirst = jmap(firsts)
    val total = best.values.filter(_ >= 0).sum
    val pt = passTotals.map(v => f"$v%.3f").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_first":$qsFirst,"passes":$passes,"pass_totals":$pt,"sf":"$sfDir","loadavg_start":"$loadStart","loadavg_end":"$loadavg","retried":$nRetried,"retry_threshold_sec":$retrySec%.1f}"""
    println(line)
    // truncation insurance (r12 postmortem: the harness keeps a bounded
    // TAIL of stdout, and the one metric line lost its head and became
    // unparseable). A short trailer line survives any tail-keeping cap and
    // still carries the totals; it deliberately does NOT contain the
    // "metric" key so a parser grepping for the real line can never pick
    // it up instead of the full per-query artifact above.
    println(f"""{"graft_bench_total_sec":$total%.3f,"pass_totals":$pt,"retried":$nRetried}""")
    // stdout can be tail-truncated by the harness that captures it; also
    // persist the full per-query map so round-over-round regression diffs
    // cover the whole suite, not the alphabetical tail. Defaults to an
    // UNtracked scratch name so ad-hoc/driver runs never clobber the
    // committed idle artifact (bench_out.json); set GRAFT_BENCH_OUT to
    // write the committed artifact deliberately.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_out.latest.json")),
      line + "\n")
    spark.stop()
  }
}

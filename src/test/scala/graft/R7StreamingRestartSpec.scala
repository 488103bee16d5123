package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Streaming stop/restart-from-checkpoint recovery — the gap the
  * executor-KILL test (batch Reliable checkpoints) does not cover: a
  * streaming query killed between micro-batches must resume from its
  * checkpoint (on the session's default state store, the one the
  * streaming gates run on) with state intact and source offsets
  * exactly-once. Protocol: stage input files in two phases, stop the
  * query after phase 1, restart the SAME query
  * definition from the SAME checkpoint dir, and prove the final result
  * equals a one-shot replay of all the data.
  */
class R7StreamingRestartSpec extends SparkSuite {
  import graft.streaming.Streams

  private def freshDir(): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory("graft_restart_")
    d.toFile.deleteOnExit()
    d
  }

  test("windowedCounts survives stop/restart from its checkpoint " +
    "(complete mode, no double-count, phase-1 windows retained)") {
    val base = freshDir()
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    val events = graft.core.Tables.withEventTime(
      graft.core.Tables.table(spark, sfDir, "events"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // two disjoint phases; each phase is one file the source discovers
    events.filter(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$inDir/p1")
    val schema = spark.read.parquet(s"$inDir/p1").schema
    def runOnce(): Unit = {
      val q = Streams.windowedCounts(
        spark.readStream.schema(schema)
          .option("pathGlobFilter", "*.parquet").parquet(s"$inDir/*"),
        "1 hour")
        .writeStream.outputMode(OutputMode.Complete())
        .format("memory").queryName("wc_restart")
        .option("checkpointLocation", ckpt).start() match {
        case q => try q.processAllAvailable() finally q.stop()
      }
      q
    }
    runOnce() // phase 1
    events.filter(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(s"$inDir/p2")
    runOnce() // restart: must recover state + offsets from ckpt
    val got = spark.table("wc_restart")
      .select(col("window_start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1.getTime, t._2))
    val want = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .sortBy(t => (t._1.getTime, t._2))
    // equality proves: phase-1 state survived the restart AND phase-1
    // files were not re-ingested (a replay would double those counts)
    assert(got.map(_._3).sum == 1000L)
    assert(got.toSeq == want.toSeq)
  }

  test("cdcLatestState winners depend on pre-restart state " +
    "(older late changes lose, newer win, phase-1-only keys survive)") {
    import spark.implicits._
    implicit val s = spark
    val base = freshDir()
    val inDir = s"$base/in"; val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // phase 1: every key upserts at ts 1000+id; even keys then delete
    val p1 = (0L until 100L).map(id =>
      Streams.Change(id, ts(1000 + id), "upsert", id.toDouble)) ++
      (0L until 100L by 2).map(id =>
        Streams.Change(id, ts(2000 + id), "delete", 0.0))
    // phase 2: every key gets an OLDER change (must LOSE — only possible
    // if phase-1 state was recovered); every 10th also a NEWER winner
    val p2 = (0L until 100L).map(id =>
      Streams.Change(id, ts(500), "upsert", 999.0)) ++
      (0L until 100L by 10).map(id =>
        Streams.Change(id, ts(5000), "upsert", -1.0))
    p1.toDF().coalesce(1).write.parquet(s"$inDir/p1")
    val schema = spark.read.parquet(s"$inDir/p1").schema
    def runOnce(): Unit = {
      val q = Streams.cdcLatestState(
        spark.readStream.schema(schema).parquet(s"$inDir/*").as[Streams.Change])
        .writeStream.outputMode(OutputMode.Update())
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Streams.CurrentRow],
            _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    p2.toDF().coalesce(1).write.parquet(s"$inDir/p2")
    runOnce()
    // reconstruct the converged state from the emitted update stream the
    // documented way: max_by over the (ts_ms, alive, value) total order
    val got = spark.read.parquet(outDir)
      .groupBy(col("id"))
      .agg(max_by(struct(col("value"), col("alive")),
        struct(col("ts_ms"), col("alive"), col("value"))).as("w"))
      .select(col("id"), col("w.value"), col("w.alive"))
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2))))
      .toMap
    // batch replay of the SAME total order over all changes
    val want = (p1 ++ p2).groupBy(_.id).map { case (id, cs) =>
      val w = cs.maxBy(c => (c.ts.getTime, c.op != "delete", c.value))
      id -> ((w.value, w.op != "delete"))
    }
    assert(got.size == 100)
    assert(got == want)
    // spot-check the three behaviors by name
    assert(got(1L) == ((1.0, true)))   // late-older change lost
    assert(got(2L) == ((0.0, false)))  // phase-1 delete survived restart
    assert(got(10L) == ((-1.0, true))) // newer phase-2 change won
  }
}

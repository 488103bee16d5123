package graft.service

/** AutoTuner (SURVEY §2.11; `/root/reference/src/ml/auto_tuner.py:17-443`):
  * per-pipeline performance history (bounded, persisted as JSON), argmax
  * batch-size recommendation from a fixed candidate space, confidence =
  * mean(sample share, consistency, margin), three optimization targets
  * (throughput / memory / cost), and a history analysis summary.
  *
  * In the Spark engine most of what this tuned is superseded by AQE; the
  * recommendation is advice about the caller's own batch size. Pure
  * driver-side Scala, no Spark dependency.
  */
final class AutoTuner(
    statePath: Option[String] = None,
    historySize: Int = 100,
    minSamples: Int = 5,
    target: String = "throughput") {

  /** `PerformanceMetrics` (auto_tuner.py:17-42). */
  final case class Metrics(pipelineId: String, batchSize: Int, records: Long,
      seconds: Double, memoryMb: Double, success: Boolean = true,
      error: Option[String] = None) {
    def throughput: Double = if (seconds > 0) records / seconds else 0.0
    def memoryPerRecord: Double = if (records > 0) memoryMb / records else 0.0
  }

  final case class Recommendation(hasRecommendations: Boolean,
      batchSize: Option[Int], confidence: Double, reason: String,
      expectedImprovementPct: Double, stats: Map[String, Any])

  // immutable snapshot behind a volatile ref: concurrent readers (a
  // multi-user service polling recommendations) always see a consistent
  // map; writers serialize on the monitor
  @volatile private var history: Map[String, Vector[Metrics]] =
    Map.empty.withDefaultValue(Vector.empty)
  loadHistory()

  /** `record_performance` (auto_tuner.py:92-113): bounded append + persist. */
  def recordPerformance(m: Metrics): Unit = synchronized {
    history = history.updated(m.pipelineId,
      (history(m.pipelineId) :+ m).takeRight(historySize))
    saveHistory()
  }

  def runs(pipelineId: String): Seq[Metrics] = history(pipelineId)

  /** `_score_metric` (auto_tuner.py:323-343). */
  private def score(m: Metrics): Double = target match {
    case "throughput" => m.throughput
    case "memory" => 1.0 / (m.memoryPerRecord + 0.001)
    case "cost" => 1.0 / (m.memoryMb * m.seconds + 0.001)
    case _ => m.throughput
  }

  /** `_analyze_history` (auto_tuner.py:208-242). */
  def analyzeHistory(pipelineId: String): Map[String, Any] = {
    val h = history(pipelineId)
    if (h.isEmpty) return Map.empty
    val ok = h.filter(_.success)
    if (ok.isEmpty) return Map("error" -> "No successful runs in history")
    val tputs = ok.map(_.throughput)
    val mems = ok.map(_.memoryMb)
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    def std(xs: Seq[Double]) = {
      val m = mean(xs); math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
    }
    Map(
      "total_runs" -> h.size, "successful_runs" -> ok.size,
      "failed_runs" -> (h.size - ok.size),
      "avg_throughput" -> mean(tputs), "max_throughput" -> tputs.max,
      "min_throughput" -> tputs.min, "std_throughput" -> std(tputs),
      "avg_memory_mb" -> mean(mems), "max_memory_mb" -> mems.max,
      "batch_sizes_tried" -> ok.map(_.batchSize).distinct.sorted)
  }

  /** `_find_optimal_batch_size` (auto_tuner.py:244-321): argmax mean score;
    * confidence = mean of (n/10 capped, 1/(1+std), margin·10 capped — 0.5
    * when only one size was tried); improvement vs the all-size average. */
  private def findOptimal(h: Seq[Metrics]): Option[(Int, Double, Double)] = {
    val byBatch = h.filter(_.success).groupBy(_.batchSize)
    if (byBatch.isEmpty) return None
    val statsOf = byBatch.map { case (b, ms) =>
      val scores = ms.map(score)
      val mean = scores.sum / scores.size
      val std = math.sqrt(scores.map(s => (s - mean) * (s - mean)).sum / scores.size)
      b -> (mean, std, ms.size)
    }
    val ranked = statsOf.toSeq.sortBy(-_._2._1)
    val (best, (bestMean, bestStd, n)) = ranked.head
    val sampleConf = math.min(1.0, n / 10.0)
    val consistencyConf = 1.0 / (1.0 + bestStd)
    val marginConf = ranked.lift(1) match {
      case Some((_, (second, _, _))) => math.min(1.0, (bestMean - second) * 10)
      case None => 0.5
    }
    val confidence = (sampleConf + consistencyConf + marginConf) / 3.0
    val avgAll = statsOf.values.map(_._1).sum / statsOf.size
    val improvementPct =
      if (avgAll > 0) (bestMean - avgAll) / avgAll * 100 else 0.0
    Some((best, confidence, improvementPct))
  }

  /** `get_recommendations` (auto_tuner.py:115-166). */
  def getRecommendations(pipelineId: String,
      currentBatchSize: Option[Int] = None): Recommendation = {
    val h = history(pipelineId)
    if (h.size < minSamples)
      return Recommendation(hasRecommendations = false, currentBatchSize, 0.0,
        s"Insufficient data: ${h.size}/$minSamples samples collected", 0.0,
        Map.empty)
    val stats = analyzeHistory(pipelineId)
    findOptimal(h) match {
      case Some((best, conf, impr)) if !currentBatchSize.contains(best) =>
        Recommendation(hasRecommendations = true, Some(best), conf,
          f"Optimal batch size is $best based on ${h.size} runs. " +
            f"Expected $impr%.1f%% improvement in $target.", impr, stats)
      case _ =>
        Recommendation(hasRecommendations = false, currentBatchSize, 0.0,
          "Current settings are near optimal", 0.0, stats)
    }
  }

  // ---- persistence (auto_tuner.py:345-401), MiniJson state file ----------

  private def stateFile = statePath.map(p => java.nio.file.Paths.get(p, "history.json"))

  /** Atomic write (temp + move) with the reference's degrade-on-error
    * posture (`auto_tuner.py:374-401`): persistence failures never break
    * recording. */
  private def saveHistory(): Unit = stateFile.foreach { f =>
    try {
      Option(f.getParent).foreach(java.nio.file.Files.createDirectories(_))
      val json = MiniJson.render(history.map { case (pid, ms) =>
        pid -> ms.map(m => Map(
          "batch_size" -> m.batchSize, "records" -> m.records,
          "seconds" -> m.seconds, "memory_mb" -> m.memoryMb,
          "success" -> m.success, "error" -> m.error.orNull))
      })
      val tmp = f.resolveSibling("history.json.tmp")
      java.nio.file.Files.writeString(tmp, json)
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    } catch { case _: Exception => () }
  }

  /** Corrupt/truncated history degrades to empty, like the reference's
    * `_load_history` except clause (`auto_tuner.py:345-372`). */
  private def loadHistory(): Unit = stateFile
    .filter(java.nio.file.Files.exists(_)).foreach { f =>
      try loadHistoryFrom(f)
      catch { case _: Exception => () }
    }

  private def loadHistoryFrom(f: java.nio.file.Path): Unit = {
      val parsed = MiniJson.parse(java.nio.file.Files.readString(f))
        .asInstanceOf[Map[String, Any]]
      history = history ++ parsed.map { case (pid, runs) =>
        pid -> runs.asInstanceOf[List[Any]].map { r =>
          val m = r.asInstanceOf[Map[String, Any]]
          def d(k: String): Double = m(k) match {
            case l: Long => l.toDouble; case x: Double => x; case _ => 0.0
          }
          Metrics(pid, d("batch_size").toInt, d("records").toLong,
            d("seconds"), d("memory_mb"),
            m.getOrElse("success", true) == true,
            Option(m.getOrElse("error", null)).map(String.valueOf(_)))
        }.toVector
      }
    }

  // ---- compatibility surface used by earlier rounds -----------------------

  final case class Run(batchSize: Int, records: Long, seconds: Double,
      mbProcessed: Double)
  final case class Rec(batchSize: Int, confidence: Double,
      expectedImprovement: Double)

  def record(run: Run): Unit = recordPerformance(Metrics(
    "default", run.batchSize, run.records, run.seconds, run.mbProcessed))

  def recommend(): Option[Rec] = findOptimal(history("default"))
    .map { case (b, c, i) => Rec(b, c, i / 100.0) }
}

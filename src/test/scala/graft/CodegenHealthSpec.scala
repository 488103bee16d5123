package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import graft.functions._

/** Loud-failure codegen gate for every FastExpressions kernel.
  *
  * A kernel whose generated call doesn't resolve (e.g. a static forwarder
  * suppressed by an inherited `apply` overload) compiles fine in Scala but
  * throws Janino `CompileException` at RUNTIME — and Spark's default
  * behavior is one WARN line and a silent fall back to interpreted
  * evaluation, so results stay correct while whole-stage codegen is lost
  * for every stage containing the expression (the round-2 BpeApply bug).
  *
  * This spec makes that failure mode impossible to miss:
  *   - `spark.sql.codegen.fallback=false` — whole-stage compile errors THROW
  *   - `spark.sql.codegen.factoryMode=CODEGEN_ONLY` — non-whole-stage
  *     projections may not quietly build an interpreted twin
  *   - `ConvertToLocalRelation` excluded — otherwise a projection over an
  *     in-memory relation is constant-folded interpreted on the driver and
  *     the test would prove nothing
  */
class CodegenHealthSpec extends SparkSuite {
  import spark.implicits._

  private val FallbackKey = "spark.sql.codegen.fallback"
  private val FactoryKey = "spark.sql.codegen.factoryMode"
  private val ExcludeKey = "spark.sql.optimizer.excludedRules"

  private def forceCodegen[A](body: => A): A = {
    spark.conf.set(FallbackKey, "false")
    spark.conf.set(FactoryKey, "CODEGEN_ONLY")
    spark.conf.set(ExcludeKey,
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    try body finally {
      spark.conf.set(FallbackKey, "true")
      spark.conf.set(FactoryKey, "FALLBACK")
      spark.conf.unset(ExcludeKey)
    }
  }

  /** Collects under forced codegen and asserts the kernel's projection sits
    * inside a WholeStageCodegen span. Any CompileException propagates. */
  private def assertCompiles(name: String)(df: => DataFrame): Unit =
    forceCodegen {
      val frame = df
      val plan = frame.queryExecution.executedPlan
      assert(plan.collect { case w: WholeStageCodegenExec => w }.nonEmpty,
        s"$name: no WholeStageCodegen span in\n$plan")
      assert(plan.toString.contains(name),
        s"$name missing from executed plan\n$plan")
      val rows = frame.collect()
      assert(rows.nonEmpty, s"$name returned no rows")
    }

  private lazy val text = Seq(
    "the quick brown fox jumps over the lazy dog",
    "hello world hello world pack my box with five dozen jugs",
    "").toDF("t")

  private lazy val vecs = Seq(
    (Seq(0.1f, -0.2f, 0.3f, 0.4f), Seq(0.5f, 0.1f, -0.3f, 0.2f)),
    (Seq(1.0f, 0.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("a", "b")

  test("fast_token_count compiles") {
    assertCompiles("fast_token_count") {
      text.select(TokenCount.token_count(col("t")))
    }
  }

  test("fast_cosine compiles") {
    assertCompiles("fast_cosine") {
      vecs.select(CosineSim.fast_cosine(col("a"), col("b")))
    }
  }

  test("word_shingles compiles") {
    assertCompiles("word_shingles") {
      text.select(WordShingles.word_shingles(col("t"), 3))
    }
  }

  test("minhash_sig compiles") {
    assertCompiles("minhash_sig") {
      text.select(MinHashSig.minhash_sig(col("t"), 3, 16))
    }
  }

  test("simhash_sig compiles") {
    assertCompiles("simhash_sig") {
      text.select(SimHashSig.simhash_sig(col("t"), 3, 64))
    }
  }

  test("rolling_fingerprint compiles") {
    assertCompiles("rolling_fingerprint") {
      text.select(RollingFingerprint.rolling_fingerprint(col("t")))
    }
  }

  test("lsh_bucket compiles") {
    assertCompiles("lsh_bucket") {
      vecs.select(LshBucket.lsh_bucket(col("a"), nPlanes = 8, dim = 4))
    }
  }

  test("decimal_dot compiles") {
    assertCompiles("decimal_dot") {
      vecs.select(DecimalDot.decimal_dot(col("a"), col("b")))
    }
  }

  test("cosine_q8 compiles") {
    // quantizeFrame's transform/aggregate lambdas are non-codegen HOFs that
    // would break the span around the kernel; materialize the structs first
    // so cosine_q8 is projected over a plain parquet scan
    val dir = java.nio.file.Files.createTempDirectory("graft_q8_codegen")
      .toString
    Similarity.quantizeFrame(Similarity.quantizeFrame(vecs, "a", "qa"),
      "b", "qb").select("qa", "qb")
      .write.mode("overwrite").parquet(dir)
    assertCompiles("cosine_q8") {
      spark.read.parquet(dir)
        .select(CosineQ8.cosine_q8(col("qa"), col("qb")))
    }
  }

  test("window_hashes compiles") {
    assertCompiles("window_hashes") {
      text.select(WindowHashes.window_hashes(split(col("t"), " "), 3))
    }
  }

  test("accent_fold compiles") {
    assertCompiles("accent_fold") {
      text.select(AccentFold.accent_fold(
        regexp_replace(col("t"), "o", "ö")))
    }
  }

  test("accent_fold folds decomposables, short-circuits ASCII, keeps CJK") {
    val rows = Seq("café über år", "plain ascii", "中文")
      .toDF("t").select(AccentFold.accent_fold(col("t"))).collect()
    assert(rows(0).getString(0) == "cafe uber ar")
    assert(rows(1).getString(0) == "plain ascii")
    assert(rows(2).getString(0) == "中文")
  }

  test("char_class_runs compiles") {
    assertCompiles("char_class_runs") {
      text.select(CharClassRuns.char_class_runs(col("t"), "aeiou"))
    }
  }

  test("sorted_intersect_count compiles") {
    assertCompiles("sorted_intersect_count") {
      Seq((Seq(1L, 3L, 5L), Seq(3L, 4L, 5L))).toDF("a", "b")
        .select(SortedIntersectCount.sorted_intersect_count(col("a"), col("b")))
    }
  }

  test("bpe_segments compiles") {
    assertCompiles("bpe_segments") {
      text.select(BpeSegments.bpe_segments(col("t"), Seq(("h", "e"))))
    }
  }

  test("kept_lines compiles") {
    assertCompiles("kept_lines") {
      text.select(KeptLines.kept_lines(split(col("t"), " "), 1, 6000, Nil))
    }
  }

  test("bpe_apply compiles (regression: static forwarder suppressed by TreeNode.apply)") {
    assertCompiles("bpe_apply") {
      text.select(BpeApply.bpe_apply(split(col("t"), ""),
        Seq(("h", "e"), ("he", "l"), ("l", "o"))))
    }
  }

  test("bpe_apply codegen value is bit-identical to interpreted eval") {
    // the round-2 bug was correct-but-interpreted; this pins codegen == eval
    val merges = Seq(("h", "e"), ("he", "l"), ("hel", "l"), ("hell", "o"))
    val df = text.select(split(col("t"), "").as("syms"))
    val interpreted = df.select(BpeApply.bpe_apply(col("syms"), merges))
      .collect().map(_.getSeq[String](0)).toSeq
    val compiled = forceCodegen {
      df.select(BpeApply.bpe_apply(col("syms"), merges))
        .collect().map(_.getSeq[String](0)).toSeq
    }
    assert(interpreted == compiled)
  }

  test("a bound comparison literal compiles") {
    val lineitem = graft.core.Tables.table(spark, sfDir, "lineitem")
    val added = graft.query.BoundLiterals.install(spark)
    try assertCompiles("bound(") {
      lineitem.filter(col("l_quantity") > 10.0 && col("l_linenumber") >= 2)
        .select(col("l_orderkey"))
    } finally if (added) graft.query.BoundLiterals.uninstall(spark)
  }
}

package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

/** Table registry over the driver-provided parquet directory.
  *
  * Mirrors the reference's DuckDB view registry
  * (`src/database/duckdb_service.py:76-113`): one cached view per table. In
  * Spark the "view" is a DataFrame kept in a per-(session, dir) cache so
  * repeated queries reuse the analyzed relation (and its parquet footer
  * listing) instead of re-listing files — this is the latency floor
  * mitigation from SURVEY §7.4.6.
  *
  * At 100 TB the same code holds: `spark.read.parquet(dir)` is a partitioned
  * scan; caching the *DataFrame* (not `.cache()` data!) costs nothing while
  * letting Catalyst push filters/projections into each query's scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    cache.getOrElseUpdate((spark, dir, name), {
      // events.parquet has shipped ts as TIMESTAMP(NANOS) (readable only as
      // long) and as naive TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ) across
      // dataset generations; normalize every shape to one session-TZ
      // timestamp so downstream code sees a single type.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") withEventTime(df) else df
    })

  /** NTZ-aware event-time normalizer — ONE definition for batch tables,
    * streaming helpers, and tests. Accepts the three shapes `ts` has
    * arrived in across driver dataset generations and returns a plain
    * session-TZ `TimestampType` column (sessions here always run UTC, so
    * the NTZ→LTZ cast is value-preserving):
    *   - long nanoseconds → `timestamp_micros(ts div 1000)` (integer
    *     division; double math would lose precision on ~1.7e18 ns values)
    *   - `TIMESTAMP_NTZ` → cast to `timestamp`
    *   - already `timestamp` → unchanged. */
  def withEventTime(df: DataFrame, c: String = "ts"): DataFrame =
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, expr(s"timestamp_micros($c div 1000)"))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
}

/** Shared column helpers encoding the reference's value semantics. */
object Semantics {
  /** The reference treats empty string as null everywhere
    * (`null_remover.py:92-98`, `quality_scorer.py:182-189`). One shared
    * predicate so every operator agrees (SURVEY §7.4.2). */
  def isMissing(c: Column): Column =
    c.isNull || (c.cast(StringType) === lit(""))

  /** Numeric-or-null guard replicating the reference aggregator's permissive
    * typing (`aggregator.py:18-21`): non-numeric strings are silently skipped,
    * not errors. try_cast semantics via cast-on-regex. */
  def asNumeric(c: Column): Column = {
    val s = c.cast(StringType)
    when(s.rlike("^\\s*[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?\\s*$"),
      c.cast(DoubleType))
  }

  /** Exact, order-independent sum for oracle parity: decimal accumulation is
    * associative so Spark's partial aggregation order cannot change the
    * result, then a fixed rounding before the double cast (SURVEY §7.4.3).
    *
    * Spelled as [[graft.functions.Dec128]]'s two-long int128 kernel rather
    * than `sum(cast(c as decimal(38,10)))`: bit-identical (spec-pinned in
    * Dec128Spec, both eval modes) but ~an order of magnitude cheaper per
    * row — the built-in pays Double.toString → BigDecimal parse → setScale
    * → BigDecimal add PER ROW; the kernel parses the same shortest-repr
    * digits into a scaled int128 and adds two longs in whole-stage codegen.
    * Input must be double/float/integral (the kernel's domain — every graft
    * call site); decimal/string inputs should keep the cast spelling. */
  def exactSum(c: Column, scale: Int = 4): Column =
    round(graft.functions.Dec128.sumExact(c).cast(DoubleType), scale)

  /** Cross-engine-deterministic rounding: FLOOR(x·10ˢ + 0.5)/10ˢ in pure
    * double arithmetic. Engines disagree on ROUND(double) at half-boundaries
    * (decimal-string HALF_UP vs binary rounding); floor of an identical
    * double is identical everywhere. */
  def safeRound(c: Column, scale: Int): Column = {
    val m = lit(math.pow(10, scale))
    floor(c * m + lit(0.5)) / m
  }

  /** Deterministic average: exact decimal sum / non-null count, divided as
    * doubles (identical operands → identical IEEE result in any engine).
    * Same Dec128 kernel as [[exactSum]] — identical bits, cheaper rows. */
  def exactAvg(c: Column, scale: Int = 4): Column =
    safeRound(graft.functions.Dec128.sumExact(c).cast(DoubleType) / count(c),
      scale)
}

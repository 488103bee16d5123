package graft.viz

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Chart auto-generation (SURVEY §2.11; `/root/reference/src/api/
  * visualization_generator.py:76-462`): one stats pass classifies columns,
  * pure functions rank candidate charts, and the chart aggregations reuse
  * the §2.9 shapes (top-k, value_counts, histogram, pivot, sample).
  */
object Visualization {
  final case class ColumnProfile(
      name: String, kind: String,                  // numeric|categorical|datetime|boolean
      distinct: Long, rows: Long,
      isId: Boolean, isGeographic: Boolean, isRate: Boolean,
      isCode: Boolean, isYearMonth: Boolean) {
    def nonAggregatable: Boolean = isId || isCode || isYearMonth
  }

  final case class ChartConfig(chartType: String, priority: Int,
      x: String, y: Option[String], agg: Option[String])

  private val usStates = Set(
    "AL","AK","AZ","AR","CA","CO","CT","DE","FL","GA","HI","ID","IL","IN","IA",
    "KS","KY","LA","ME","MD","MA","MI","MN","MS","MO","MT","NE","NV","NH","NJ",
    "NM","NY","NC","ND","OH","OK","OR","PA","RI","SC","SD","TN","TX","UT","VT",
    "VA","WA","WV","WI","WY")

  private def kindOf(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case _: NumericType => "numeric"
    case DateType | TimestampType | TimestampNTZType => "datetime"
    case _ => "categorical"
  }

  /** One aggregate pass over the table → per-column profiles
    * (visualization_generator.py:76-219). */
  def analyze(df: DataFrame, sampleValues: Int = 20): Seq[ColumnProfile] = {
    val cols = df.columns.toSeq
    val aggs = count(lit(1)).as("__rows") +:
      cols.flatMap { c => Seq(
        approx_count_distinct(col(c)).as(s"${c}__d"),
        first(col(c), ignoreNulls = true).cast(StringType).as(s"${c}__sample"))
      }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = row.getAs[Long]("__rows")
    cols.map { c =>
      val lc = c.toLowerCase
      val distinct = row.getAs[Long](s"${c}__d")
      val sample = Option(row.getAs[String](s"${c}__sample")).getOrElse("")
      val kind = kindOf(df.schema(c).dataType)
      ColumnProfile(
        name = c, kind = kind, distinct = distinct, rows = rows,
        isId = lc == "id" || lc.endsWith("_id") || lc.endsWith("key") ||
          (distinct >= rows && rows > 100),
        isGeographic = lc.contains("state") && usStates.contains(sample),
        isRate = lc.contains("rate") || lc.contains("pct") || lc.contains("ratio"),
        isCode = lc.contains("code") || lc.contains("zip"),
        isYearMonth = lc.contains("year") || lc.contains("month"))
    }
  }

  /** Ranked chart selection (visualization_generator.py:222-358):
    * bar(cat×num)=9, line(time×num)=8, scatter(num×num)=7, pie(low-card)=6,
    * histogram/heatmap=5, box=4; at most `max` configs. */
  def selectCharts(profiles: Seq[ColumnProfile], max: Int = 10): Seq[ChartConfig] = {
    val nums = profiles.filter(p => p.kind == "numeric" && !p.nonAggregatable)
    val cats = profiles.filter(p => p.kind == "categorical" && !p.isId &&
      p.distinct <= 50)
    val times = profiles.filter(_.kind == "datetime")
    val charts = Seq.newBuilder[ChartConfig]
    for (c <- cats.take(3); n <- nums.take(2))
      charts += ChartConfig("bar", 9, c.name, Some(n.name), Some("sum"))
    for (t <- times.take(1); n <- nums.take(2))
      charts += ChartConfig("line", 8, t.name, Some(n.name), Some("sum"))
    for (Seq(a, b) <- nums.take(3).combinations(2).toSeq.take(2))
      charts += ChartConfig("scatter", 7, a.name, Some(b.name), None)
    for (c <- cats.filter(_.distinct <= 10).take(2))
      charts += ChartConfig("pie", 6, c.name, None, Some("count"))
    for (n <- nums.take(2))
      charts += ChartConfig("histogram", 5, n.name, None, None)
    for (c1 <- cats.take(1); c2 <- cats.drop(1).take(1); _ <- nums.take(1))
      charts += ChartConfig("heatmap", 5, c1.name, Some(c2.name), Some("sum"))
    for (c <- cats.take(1); n <- nums.take(1))
      charts += ChartConfig("box", 4, c.name, Some(n.name), None)
    charts.result().sortBy(-_.priority).take(max)
  }

  /** Render a chart config into its aggregation plan (§2.9 shapes). */
  def dataFor(df: DataFrame, cfg: ChartConfig): DataFrame = cfg.chartType match {
    case "bar" =>
      df.groupBy(col(cfg.x)).agg(sum(col(cfg.y.get)).as("value"))
        .orderBy(col("value").desc).limit(15)
    case "line" =>
      df.groupBy(to_date(col(cfg.x)).as("date"))
        .agg(sum(col(cfg.y.get)).as("value")).orderBy(col("date"))
    case "pie" =>
      df.groupBy(col(cfg.x)).agg(count(lit(1)).as("value"))
        .orderBy(col("value").desc).limit(10)
    case "scatter" =>
      df.select(col(cfg.x), col(cfg.y.get)).limit(1000)
    case "histogram" =>
      df.select(col(cfg.x))
    case "heatmap" =>
      df.groupBy(col(cfg.x)).pivot(cfg.y.get).sum()
    case "box" =>
      df.groupBy(col(cfg.x)).agg(
        expr(s"percentile(${cfg.y.get}, array(0.25, 0.5, 0.75))").as("quartiles"),
        min(col(cfg.y.get)).as("min"), max(col(cfg.y.get)).as("max"))
    case other => throw new IllegalArgumentException(s"unknown chart $other")
  }
}

/** Insight-generation profile text (SURVEY §2.11; `insight_generator.py:
  * 40-243`): samples ≤1000 rows, builds the per-column profile prompt. The
  * LLM call is out of scope (external HTTP) — the text builder is the
  * engine-side computation.
  *
  * Every cell of the profile is DETERMINISTIC and exactly replayable by an
  * independent engine (the q_insight_profile gate): integral means render
  * from the floor-scaled integer (Σx·10⁴ floor-div n — pure BIGINT
  * arithmetic, never a float-to-string), distinct counts are exact (the
  * reference's pandas `nunique` on the sample is exact too — the earlier
  * approx_count_distinct was the deviation), and fractional columns render
  * min/max/mean at fixed 4-decimal precision from scaled longs. */
object InsightProfile {

  /** Render a ×10⁴-scaled long as a fixed 4-decimal string ("12.0000",
    * "-1.0001"); sign handled from the scaled value so both engines derive
    * the text from the SAME integer. */
  private def e4(v: Long): String = {
    val sign = if (v < 0) "-" else ""
    val a = math.abs(v)
    s"$sign${a / 10000}.${"%04d".format(a % 10000)}"
  }

  def profileText(df: DataFrame, sampleRows: Int = 1000): String = {
    import org.apache.spark.sql.types._
    val sample = df.limit(sampleRows)
    val n = sample.count()
    val colLines = df.schema.fields.map { f =>
      f.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          val r = sample.agg(min(col(f.name)).cast(LongType),
            max(col(f.name)).cast(LongType),
            sum(col(f.name)).cast(LongType)).head()
          val mean =
            if (n == 0 || r.isNullAt(2)) "null"
            else e4(Math.floorDiv(r.getLong(2) * 10000L, n))
          s"- ${f.name} (${f.dataType.simpleString}): " +
            s"min=${if (r.isNullAt(0)) "null" else r.getLong(0).toString}, " +
            s"max=${if (r.isNullAt(1)) "null" else r.getLong(1).toString}, " +
            s"mean=$mean"
        case _: NumericType =>
          // fractional: fixed 4-dp renders from floor(x·10⁴ + 0.5) longs
          val r = sample.agg(
            floor(min(col(f.name)) * 10000 + 0.5).cast(LongType),
            floor(max(col(f.name)) * 10000 + 0.5).cast(LongType),
            floor(avg(col(f.name)) * 10000 + 0.5).cast(LongType)).head()
          def cell(i: Int) = if (r.isNullAt(i)) "null" else e4(r.getLong(i))
          s"- ${f.name} (${f.dataType.simpleString}): " +
            s"min=${cell(0)}, max=${cell(1)}, mean=${cell(2)}"
        case _ =>
          val d = sample.agg(countDistinct(col(f.name))).head().getLong(0)
          s"- ${f.name} (${f.dataType.simpleString}): $d distinct values"
      }
    }
    s"Dataset sample: $n rows, ${df.columns.length} columns\n" + colLines.mkString("\n")
  }
}

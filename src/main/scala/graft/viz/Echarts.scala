package graft.viz

/** Full ECharts config generation (SURVEY §2.11; `/root/reference/src/api/
  * echarts_generator.py:14-443`): the reference's nine chart types — bar,
  * line, pie, scatter, area, treemap, sunburst (falls back to bar like the
  * reference's `generators.get(..., _generate_bar_config)`), heatmap, gauge.
  *
  * Pure config assembly over pre-aggregated rows: no Spark jobs here; the
  * data comes from the §2.9 aggregation shapes (`Visualization.dataFor`).
  * Deviation (documented): the reference embeds Python lambdas in three
  * spots (`animationDelay`, scatter `symbolSize`, scatter tooltip
  * `formatter` — echarts_generator.py:118,239,244) which are not JSON; we
  * omit the delay/formatter and precompute per-point scatter sizes instead
  * (same visual rule `size/max*40+5`).
  */
object Echarts {
  type Row = Map[String, Any]

  // ---- minimal JSON AST (insertion-ordered, deterministic output) ---------
  sealed trait J { def render: String = Json.render(this) }
  final case class JStr(s: String) extends J
  final case class JNum(d: Double) extends J
  final case class JInt(l: Long) extends J
  final case class JBool(b: Boolean) extends J
  case object JNull extends J
  final case class JArr(items: Seq[J]) extends J
  final case class JObj(fields: Seq[(String, J)]) extends J

  object Json {
    import graft.service.MiniJson.escape
    def render(j: J): String = j match {
      case JStr(s) => "\"" + escape(s) + "\""
      case JNum(d) => graft.service.MiniJson.render(d) // NaN, ±Inf → null
      case JInt(l) => l.toString
      case JBool(b) => b.toString
      case JNull => "null"
      case JArr(xs) => xs.map(render).mkString("[", ",", "]")
      case JObj(fs) =>
        fs.map { case (k, v) => "\"" + escape(k) + "\":" + render(v) }
          .mkString("{", ",", "}")
    }
    def of(v: Any): J = v match {
      case null => JNull
      case None => JNull
      case Some(x) => of(x)
      case s: String => JStr(s)
      case b: Boolean => JBool(b)
      case i: Int => JInt(i.toLong)
      case l: Long => JInt(l)
      case f: Float => JNum(f.toDouble)
      case d: Double => JNum(d)
      case d: java.math.BigDecimal => JNum(d.doubleValue)
      case d: scala.math.BigDecimal => JNum(d.doubleValue)
      case other => JStr(String.valueOf(other))
    }
  }
  import Json.of

  private def str(r: Row, f: String): String =
    r.get(f).flatMap(Option(_)).map(String.valueOf(_)).getOrElse("")
  private def num(r: Row, f: String, default: Double = 0.0): Double =
    r.get(f).flatMap(Option(_)).map {
      case n: Number => n.doubleValue
      case other => try String.valueOf(other).toDouble catch { case _: Throwable => default }
    }.getOrElse(default)

  private def titleObj(title: Option[String]): Seq[(String, J)] =
    title.toSeq.map(t => "title" -> JObj(Seq(
      "text" -> JStr(t), "left" -> JStr("center"))))

  private def grid(title: Option[String], bottom: String = "3%"): (String, J) =
    "grid" -> JObj(Seq(
      "left" -> JStr("3%"), "right" -> JStr("4%"), "bottom" -> JStr(bottom),
      "top" -> JStr(if (title.isDefined) "15%" else "8%"),
      "containLabel" -> JBool(true)))

  /** Bar (`echarts_generator.py:65-125`). `stacked` is accepted and unused,
    * exactly like the reference's signature. */
  def bar(data: Seq[Row], xField: String, yField: String,
      title: Option[String] = None, horizontal: Boolean = false,
      stacked: Boolean = false): JObj = {
    val cats = JArr(data.map(d => JStr(str(d, xField))))
    val vals = JArr(data.map(d => of(num(d, yField))))
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq(
        "trigger" -> JStr("axis"),
        "axisPointer" -> JObj(Seq("type" -> JStr("shadow"))))),
      grid(title),
      "xAxis" -> JObj(Seq(
        "type" -> JStr(if (horizontal) "value" else "category"),
        "data" -> (if (horizontal) JNull else cats))),
      "yAxis" -> JObj(Seq(
        "type" -> JStr(if (horizontal) "category" else "value"),
        "data" -> (if (horizontal) cats else JNull))),
      "series" -> JArr(Seq(JObj(Seq(
        "type" -> JStr("bar"),
        "data" -> vals,
        "emphasis" -> JObj(Seq("focus" -> JStr("series"))),
        "itemStyle" -> JObj(Seq("borderRadius" -> JArr(
          (if (horizontal) Seq(0, 4, 4, 0) else Seq(4, 4, 0, 0)).map(i => JInt(i.toLong))))))))),
      "animationEasing" -> JStr("elasticOut")))
  }

  /** Line / area (`echarts_generator.py:114-157,266-274`). */
  def line(data: Seq[Row], xField: String, yField: String,
      title: Option[String] = None, smooth: Boolean = true,
      area: Boolean = false): JObj = {
    val series = JObj(Seq(
      "type" -> JStr("line"),
      "data" -> JArr(data.map(d => of(num(d, yField)))),
      "smooth" -> JBool(smooth),
      "emphasis" -> JObj(Seq("focus" -> JStr("series"))),
      "symbol" -> JStr("circle"),
      "symbolSize" -> JInt(6)) ++
      (if (area) Seq("areaStyle" -> JObj(Seq("opacity" -> JNum(0.3)))) else Nil))
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq("trigger" -> JStr("axis"))),
      grid(title),
      "xAxis" -> JObj(Seq(
        "type" -> JStr("category"),
        "data" -> JArr(data.map(d => JStr(str(d, xField)))),
        "boundaryGap" -> JBool(false))),
      "yAxis" -> JObj(Seq("type" -> JStr("value"))),
      "series" -> JArr(Seq(series))))
  }

  def area(data: Seq[Row], xField: String, yField: String,
      title: Option[String] = None): JObj =
    line(data, xField, yField, title, smooth = true, area = true)

  /** Pie / donut (`echarts_generator.py:160-204`). */
  def pie(data: Seq[Row], xField: String, yField: String,
      title: Option[String] = None, donut: Boolean = false): JObj = {
    val pieData = JArr(data.map(d => JObj(Seq(
      "name" -> JStr(str(d, xField)), "value" -> of(num(d, yField))))))
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq(
        "trigger" -> JStr("item"), "formatter" -> JStr("{b}: {c} ({d}%)"))),
      "legend" -> JObj(Seq(
        "orient" -> JStr("horizontal"), "bottom" -> JStr("5%"))),
      "series" -> JArr(Seq(JObj(Seq(
        "type" -> JStr("pie"),
        "radius" -> (if (donut) JArr(Seq(JStr("40%"), JStr("70%"))) else JStr("70%")),
        "center" -> JArr(Seq(JStr("50%"), JStr("45%"))),
        "data" -> pieData,
        "emphasis" -> JObj(Seq("itemStyle" -> JObj(Seq(
          "shadowBlur" -> JInt(10), "shadowOffsetX" -> JInt(0),
          "shadowColor" -> JStr("rgba(0, 0, 0, 0.5)"))))),
        "label" -> JObj(Seq(
          "show" -> JBool(true), "formatter" -> JStr("{b}: {d}%"))),
        "animationType" -> JStr("scale"),
        "animationEasing" -> JStr("elasticOut")))))))
  }

  /** Scatter (`echarts_generator.py:207-263`); with `sizeField`, per-point
    * sizes are precomputed by the reference's rule `size/max*40+5` (a JSON
    * config cannot carry its sizing lambda). */
  def scatter(data: Seq[Row], xField: String, yField: String,
      title: Option[String] = None, sizeField: Option[String] = None): JObj = {
    val seriesData = sizeField match {
      case None =>
        JArr(data.map(d => JArr(Seq(of(num(d, xField)), of(num(d, yField))))))
      case Some(sf) =>
        val sizes = data.map(d => num(d, sf, 10.0))
        val maxSize = if (sizes.nonEmpty) sizes.max else 1.0
        JArr(data.zip(sizes).map { case (d, s) => JObj(Seq(
          "value" -> JArr(Seq(of(num(d, xField)), of(num(d, yField)))),
          "symbolSize" -> JNum(s / (if (maxSize == 0) 1.0 else maxSize) * 40 + 5)))
        })
    }
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq("trigger" -> JStr("item"))),
      grid(title),
      "xAxis" -> JObj(Seq("type" -> JStr("value"), "name" -> JStr(xField))),
      "yAxis" -> JObj(Seq("type" -> JStr("value"), "name" -> JStr(yField))),
      "series" -> JArr(Seq(JObj(Seq(
        "type" -> JStr("scatter"),
        "data" -> seriesData,
        "symbolSize" -> JInt(12),
        "emphasis" -> JObj(Seq(
          "focus" -> JStr("series"),
          "itemStyle" -> JObj(Seq(
            "shadowBlur" -> JInt(10),
            "shadowColor" -> JStr("rgba(0, 0, 0, 0.5)")))))))))))
  }

  /** Treemap (`echarts_generator.py:277-323`). */
  def treemap(data: Seq[Row], nameField: String, valueField: String,
      title: Option[String] = None): JObj =
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq(
        "trigger" -> JStr("item"), "formatter" -> JStr("{b}: {c}"))),
      "series" -> JArr(Seq(JObj(Seq(
        "type" -> JStr("treemap"),
        "data" -> JArr(data.map(d => JObj(Seq(
          "name" -> JStr(str(d, nameField)), "value" -> of(num(d, valueField)))))),
        "leafDepth" -> JInt(1),
        "roam" -> JBool(false),
        "label" -> JObj(Seq(
          "show" -> JBool(true), "formatter" -> JStr("{b}"))),
        "upperLabel" -> JObj(Seq(
          "show" -> JBool(true), "height" -> JInt(30))),
        "itemStyle" -> JObj(Seq(
          "borderColor" -> JStr("#0f1428"), "borderWidth" -> JInt(2),
          "gapWidth" -> JInt(2))),
        "emphasis" -> JObj(Seq("itemStyle" -> JObj(Seq(
          "shadowBlur" -> JInt(20),
          "shadowColor" -> JStr("rgba(0, 0, 0, 0.4)")))))))))))

  /** Heatmap (`echarts_generator.py:325-394`): sorted category axes, data as
    * [xIdx, yIdx, value], visualMap over the value range. */
  def heatmap(data: Seq[Row], xField: String, yField: String,
      valueField: String = "value", title: Option[String] = None): JObj = {
    val xCats = data.map(d => str(d, xField)).distinct.sorted
    val yCats = data.map(d => str(d, yField)).distinct.sorted
    val cells = data.map { d =>
      JArr(Seq(JInt(xCats.indexOf(str(d, xField)).toLong),
        JInt(yCats.indexOf(str(d, yField)).toLong), of(num(d, valueField))))
    }
    val values = data.map(d => num(d, valueField))
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq("position" -> JStr("top"))),
      "grid" -> JObj(Seq(
        "left" -> JStr("3%"), "right" -> JStr("4%"),
        "bottom" -> JStr("15%"), "top" -> JStr("15%"),
        "containLabel" -> JBool(true))),
      "xAxis" -> JObj(Seq(
        "type" -> JStr("category"), "data" -> JArr(xCats.map(JStr(_))),
        "splitArea" -> JObj(Seq("show" -> JBool(true))))),
      "yAxis" -> JObj(Seq(
        "type" -> JStr("category"), "data" -> JArr(yCats.map(JStr(_))),
        "splitArea" -> JObj(Seq("show" -> JBool(true))))),
      "visualMap" -> JObj(Seq(
        "min" -> of(if (values.nonEmpty) values.min else 0.0),
        "max" -> of(if (values.nonEmpty) values.max else 100.0),
        "calculable" -> JBool(true),
        "orient" -> JStr("horizontal"),
        "left" -> JStr("center"), "bottom" -> JStr("0%"),
        "inRange" -> JObj(Seq("color" -> JArr(Seq(
          JStr("#1a1f35"), JStr("#7dd3fc"))))))),
      "series" -> JArr(Seq(JObj(Seq(
        "type" -> JStr("heatmap"),
        "data" -> JArr(cells),
        "label" -> JObj(Seq("show" -> JBool(true))),
        "emphasis" -> JObj(Seq("itemStyle" -> JObj(Seq(
          "shadowBlur" -> JInt(10),
          "shadowColor" -> JStr("rgba(0, 0, 0, 0.5)")))))))))))
  }

  /** Gauge (`echarts_generator.py:397-443`): first row's value. */
  def gauge(data: Seq[Row], valueField: String, maxValue: Double = 100,
      title: Option[String] = None): JObj = {
    val value = data.headOption.map(num(_, valueField)).getOrElse(0.0)
    JObj(titleObj(title) ++ Seq(
      "tooltip" -> JObj(Seq("formatter" -> JStr("{b}: {c}"))),
      "series" -> JArr(Seq(JObj(Seq(
        "type" -> JStr("gauge"),
        "progress" -> JObj(Seq("show" -> JBool(true), "width" -> JInt(18))),
        "axisLine" -> JObj(Seq("lineStyle" -> JObj(Seq("width" -> JInt(18))))),
        "axisTick" -> JObj(Seq("show" -> JBool(false))),
        "splitLine" -> JObj(Seq(
          "length" -> JInt(15),
          "lineStyle" -> JObj(Seq("width" -> JInt(2), "color" -> JStr("#9ca3af"))))),
        "axisLabel" -> JObj(Seq(
          "distance" -> JInt(25), "color" -> JStr("#9ca3af"),
          "fontSize" -> JInt(12))),
        "anchor" -> JObj(Seq(
          "show" -> JBool(true), "showAbove" -> JBool(true),
          "size" -> JInt(25),
          "itemStyle" -> JObj(Seq("borderWidth" -> JInt(10))))),
        "title" -> JObj(Seq("show" -> JBool(false))),
        "detail" -> JObj(Seq(
          "valueAnimation" -> JBool(true), "fontSize" -> JInt(32),
          "offsetCenter" -> JArr(Seq(JInt(0), JStr("70%"))),
          "color" -> JStr("#ffffff"))),
        "data" -> JArr(Seq(JObj(Seq(
          "value" -> of(value),
          "name" -> JStr(title.getOrElse("Value")))))),
        "max" -> of(maxValue)))))))
  }

  /** Dispatch like `generate_echarts_config` (py:27-62): unknown types —
    * including sunburst, which has no generator in the reference either —
    * fall back to bar. */
  def generate(chartType: String, data: Seq[Row], xField: String,
      yField: String, title: Option[String] = None): JObj = chartType match {
    case "bar" => bar(data, xField, yField, title)
    case "line" => line(data, xField, yField, title)
    case "pie" => pie(data, xField, yField, title)
    case "scatter" => scatter(data, xField, yField, title)
    case "area" => area(data, xField, yField, title)
    case "treemap" => treemap(data, xField, yField, title)
    case "heatmap" => heatmap(data, xField, yField, title = title)
    case "gauge" => gauge(data, yField, title = title)
    case _ => bar(data, xField, yField, title) // sunburst & unknown
  }

  /** DataFrame rows → the generator's row shape (bounded by `limit`). */
  def rowsOf(df: org.apache.spark.sql.DataFrame, limit: Int = 1000): Seq[Row] = {
    val cols = df.columns
    df.limit(limit).collect().toSeq.map(r =>
      cols.zipWithIndex.map { case (c, i) => c -> r.get(i) }.toMap)
  }
}

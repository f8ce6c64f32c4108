package graft.web

/** `promtool query instant|range|series|labels` analog (ref:
  * cmd/promtool/query.go QueryInstant/QueryRange/QuerySeries/QueryLabels +
  * main.go promqlPrinter/jsonPrinter): a thin HTTP client over the v1 API
  * that renders results in the Go client library's `model.Value` string
  * forms — `metric => value @[ts]` vectors, `metric =>\nvalue @[ts]...`
  * matrices (series sorted by label set), `{k="v", ...}` series sets.
  *
  * The server does the distributed work; this is a driver-side CLI and
  * deliberately contains no Spark.
  */
object QueryTool {

  /** RFC3339 or unix-seconds(.fraction) → epoch ms (ref: query.go
    * parseTime) */
  def parseTime(s: String): Long =
    try {
      val d = java.lang.Double.parseDouble(s)
      math.round(d * 1000.0)
    } catch {
      case _: NumberFormatException =>
        java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
    }

  /** Go strconv.FormatFloat(v, 'f', -1, 64): shortest round-trip decimal in
    * fixed notation (ref: common/model SampleValue.String) */
  def fmtF(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "+Inf"
    if (d == Double.NegativeInfinity) return "-Inf"
    if (d == 0.0) return "0"
    Json.shortestDecimal(d).toPlainString
  }

  /** model.Time.String: seconds as shortest fixed decimal */
  def fmtTime(seconds: Double): String = fmtF(seconds)

  /** model.Metric.String: name outside sorted `{k="v", ...}` braces; a
    * label-free named metric prints bare, a nameless set prints `{...}` */
  def metricString(m: Map[String, String]): String = {
    val name = m.getOrElse("__name__", "")
    val rest = (m - "__name__").toSeq.sorted
      .map { case (k, v) => s"""$k="${goQ(v)}"""" }
    if (rest.isEmpty) { if (name.nonEmpty) name else "{}" }
    else s"$name{${rest.mkString(", ")}}"
  }

  /** model.LabelSet.String: every label (incl. __name__) inside braces */
  def labelSetString(m: Map[String, String]): String =
    s"{${m.toSeq.sorted.map { case (k, v) => s"""$k="${goQ(v)}"""" }.mkString(", ")}}"

  /** Go %q escaping body (quotes added by callers) */
  private def goQ(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case '\r' => sb.append("\\r")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  // ---- API response → printer text ----------------------------------

  private def asMap(a: Any): Map[String, Any] = a match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]
    case _ => Map.empty
  }
  private def asList(a: Any): List[Any] = a match {
    case l: List[_] => l; case _ => Nil
  }
  private def labelMap(a: Any): Map[String, String] =
    asMap(a).map { case (k, v) => k -> String.valueOf(v) }

  private def samplePoint(a: Any): (String, String) = asList(a) match {
    case (ts: Double) :: (v: String) :: Nil => (fmtTime(ts), fmtF(parseVal(v)))
    case other => throw new IllegalArgumentException(s"bad sample $other")
  }
  private def parseVal(s: String): Double = s match {
    case "NaN" => Double.NaN
    case "+Inf" | "Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case _ => java.lang.Double.parseDouble(s)
  }

  /** render a v1 `data` object the way promtool's promqlPrinter does
    * (fmt.Println(model.Value)) */
  def renderValue(data: Map[String, Any]): String =
    data.get("resultType").map(String.valueOf(_)) match {
      case Some("vector") =>
        asList(data("result")).map { s0 =>
          val s = asMap(s0)
          val (ts, v) = samplePoint(s("value"))
          s"${metricString(labelMap(s("metric")))} => $v @[$ts]"
        }.mkString("\n")
      case Some("matrix") =>
        asList(data("result")).map { s0 =>
          val s = asMap(s0)
          val vals = asList(s("values")).map { p =>
            val (ts, v) = samplePoint(p); s"$v @[$ts]"
          }
          (metricString(labelMap(s("metric"))), vals)
        }.sortBy(_._1) // model.Matrix sorts by label set before printing
          .map { case (m, vals) => s"$m =>\n${vals.mkString("\n")}" }
          .mkString("\n")
      case Some("scalar") =>
        val (ts, v) = samplePoint(data("result"))
        s"scalar: $v @[$ts]"
      case Some("string") =>
        asList(data("result")) match {
          case _ :: (s: String) :: Nil => s
          case other => String.valueOf(other)
        }
      case other => throw new IllegalArgumentException(s"bad resultType $other")
    }

  // ---- HTTP client ----------------------------------------------------

  private def client = OutboundHttp.default

  private def call(url: String): Either[String, Map[String, Any]] = {
    val resp = client.send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    val body = asMap(JsonLite.parse(resp.body()))
    if (resp.statusCode() == 200 && body.get("status").contains("success"))
      Right(body)
    else Left(
      s"query error: ${body.getOrElse("error", s"HTTP ${resp.statusCode()}")}")
  }

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  /** instant query at an optional eval time (default: server now) */
  def instant(server: String, query: String, time: Option[String])
      : Either[String, String] = {
    val t = time.map(s => s"&time=${parseTime(s) / 1000.0}").getOrElse("")
    call(s"$server/api/v1/query?query=${enc(query)}$t")
      .map(b => renderValue(asMap(b("data"))))
  }

  /** range query; step=0 picks ~250 resolution steps like the reference */
  def range(server: String, query: String, start: String, end: String,
      stepSec: Long = 0L): Either[String, String] = {
    val st = parseTime(start); val en = parseTime(end)
    if (st >= en) return Left("start time is not before end time")
    val step =
      if (stepSec > 0) stepSec
      else math.max(math.floor((en - st) / 1000.0 / 250.0), 1.0).toLong
    call(s"$server/api/v1/query_range?query=${enc(query)}" +
        s"&start=${st / 1000.0}&end=${en / 1000.0}&step=$step")
      .map(b => renderValue(asMap(b("data"))))
  }

  /** series listing: one `{k="v", ...}` LabelSet line per series */
  def series(server: String, matchers: Seq[String], start: String,
      end: String): Either[String, String] = {
    val ms = matchers.map(m => s"&match[]=${enc(m)}").mkString
    call(s"$server/api/v1/series?start=${parseTime(start) / 1000.0}" +
        s"&end=${parseTime(end) / 1000.0}$ms")
      .map(b => asList(b("data")).map(s => labelSetString(labelMap(s)))
        .mkString("\n"))
  }

  /** label values: one value per line */
  def labelValues(server: String, name: String, matchers: Seq[String],
      start: Option[String], end: Option[String]): Either[String, String] = {
    val qs = (matchers.map(m => s"match[]=${enc(m)}") ++
      start.map(s => s"start=${parseTime(s) / 1000.0}") ++
      end.map(s => s"end=${parseTime(s) / 1000.0}")).mkString("&")
    call(s"$server/api/v1/label/${enc(name)}/values" +
        (if (qs.isEmpty) "" else s"?$qs"))
      .map(b => asList(b("data")).map(String.valueOf(_)).mkString("\n"))
  }

  /** CLI: `runMain graft.web.QueryTool instant <server> <expr> [time]`,
    * `range <server> <expr> <start> <end> [step_sec]`,
    * `series <server> <start> <end> <matcher>...`,
    * `labels <server> <name> [matcher]...` */
  def main(args: Array[String]): Unit = {
    val out = args.toList match {
      case "instant" :: server :: expr :: rest =>
        instant(server, expr, rest.headOption)
      case "range" :: server :: expr :: start :: end :: rest =>
        range(server, expr, start, end,
          rest.headOption.map(_.toLong).getOrElse(0L))
      case "series" :: server :: start :: end :: ms if ms.nonEmpty =>
        series(server, ms, start, end)
      case "labels" :: server :: name :: ms =>
        labelValues(server, name, ms, None, None)
      case _ =>
        System.err.println(
          "usage: QueryTool instant|range|series|labels <server> ...")
        sys.exit(2)
    }
    out match {
      case Right(text) => println(text)
      case Left(err) => System.err.println(err); sys.exit(1)
    }
  }
}

package graft.streaming

import graft.promql.FHist
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** OpenMetrics text-format parser (ref: model/textparse/openmetricsparse.go;
  * spec differences from the Prometheus text format that matter here:
  * second-resolution float timestamps, `# TYPE/UNIT/HELP <family> ...`
  * metadata lines, `# EOF` terminator, and per-sample exemplars after ` # `).
  *
  * One deserializing pass over raw lines produces BOTH streams:
  *   - samples (canonical engine schema + nullable exemplar struct)
  *   - metadata (family → type/unit/help), one row per metadata line
  * Spark-shaped like [[Exposition]]: a map over a text DataFrame, identical
  * on batch `read.text` and streaming `readStream.text` inputs, no
  * cross-line state (metadata association happens relationally via
  * [[attachMeta]], not in the parser).
  */
object OpenMetrics {

  final case class Exemplar(labels: Map[String, String], v: Double, t: Long)

  /** tagged union row: kind 0 = sample, 1 = metadata */
  final case class OMRow(
      kind: Int,
      labels: Map[String, String], t: Long, v: Double, ex: Option[Exemplar],
      family: String, metaKey: String, metaVal: String)

  private val labelPair = """([a-zA-Z_][a-zA-Z0-9_]*)\s*=\s*"((?:[^"\\]|\\.)*)"""".r

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\n", "\n").replace("\\\\", "\\")

  private def parseLabels(body: String, name: String): Map[String, String] = {
    val lm = scala.collection.mutable.Map[String, String]()
    if (name.nonEmpty) lm("__name__") = name
    labelPair.findAllMatchIn(body).foreach(m => lm(m.group(1)) = unescape(m.group(2)))
    lm.toMap
  }

  private def parseNum(s: String): Double = s match {
    case "+Inf" | "Inf" => Double.PositiveInfinity
    case "-Inf" => Double.NegativeInfinity
    case "NaN" => Double.NaN
    case x => x.toDouble
  }

  /** OpenMetrics timestamps are seconds (possibly fractional) */
  private def tsMs(s: String): Long = math.round(s.toDouble * 1000.0)

  /** parse one OpenMetrics line; None for blank/EOF/plain comments */
  def parseLine(line: String, defaultTsMs: Long): Option[OMRow] = {
    val s = line.trim
    if (s.isEmpty) return None
    try {
      if (s.startsWith("#")) {
        val body = s.drop(1).trim
        if (body == "EOF") return None
        val parts = body.split("\\s+", 3)
        if (parts.length >= 2 && Set("TYPE", "UNIT", "HELP").contains(parts(0)))
          return Some(OMRow(1, Map.empty, 0L, 0.0, None,
            parts(1), parts(0).toLowerCase, if (parts.length > 2) unescape(parts(2)) else ""))
        return None // plain comment
      }
      // sample body, optionally followed by " # {exemplar} v [ts]"
      val (mainPart, exPart) = {
        // the exemplar separator is a '#' outside the label braces/quotes
        var depth = 0; var inQ = false; var cut = -1; var i = 0
        while (i < s.length && cut < 0) {
          s.charAt(i) match {
            case '"' if i == 0 || s.charAt(i - 1) != '\\' => inQ = !inQ
            case '{' if !inQ => depth += 1
            case '}' if !inQ => depth -= 1
            case '#' if !inQ && depth == 0 => cut = i
            case _ =>
          }
          i += 1
        }
        if (cut < 0) (s, "") else (s.substring(0, cut).trim, s.substring(cut + 1).trim)
      }
      val braceIdx = mainPart.indexOf('{')
      val (labels, rest) =
        if (braceIdx >= 0) {
          val end = mainPart.indexOf('}', braceIdx)
          if (end < 0) return None
          (parseLabels(mainPart.substring(braceIdx + 1, end),
             mainPart.substring(0, braceIdx).trim),
           mainPart.substring(end + 1).trim)
        } else {
          val sp = mainPart.indexOf(' ')
          if (sp < 0) return None
          (Map("__name__" -> mainPart.substring(0, sp)), mainPart.substring(sp + 1).trim)
        }
      val parts = rest.split("\\s+")
      if (parts.isEmpty || parts(0).isEmpty) return None
      val v = parseNum(parts(0))
      val t = if (parts.length > 1) tsMs(parts(1)) else defaultTsMs
      val ex =
        if (exPart.isEmpty) None
        else {
          val eb = exPart.indexOf('{'); val ee = exPart.indexOf('}', eb)
          if (eb < 0 || ee < 0) None
          else {
            val eLabels = parseLabels(exPart.substring(eb + 1, ee), "")
            val eParts = exPart.substring(ee + 1).trim.split("\\s+")
            if (eParts.isEmpty || eParts(0).isEmpty) None
            else Some(Exemplar(eLabels, parseNum(eParts(0)),
              if (eParts.length > 1) tsMs(eParts(1)) else t))
          }
        }
      Some(OMRow(0, labels, t, v, ex, "", "", ""))
    } catch { case _: Exception => None }
  }

  private val exemplarType: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("v", DoubleType), StructField("t", LongType)))

  /** (series labels, exemplar) rows — the shape
    * `SampleStore.appendExemplars` / `/api/v1/query_exemplars` consume */
  val exemplarBatchSchema: StructType = StructType(Seq(
    StructField("labels", MapType(StringType, StringType, valueContainsNull = false)),
    StructField("exemplar", exemplarType)))

  private val parseUdf = udf { (line: String, defaultTs: Long) =>
    parseLine(line, defaultTs)
  }

  /** parse a text DataFrame (column `value`); returns rows of both kinds —
    * split with [[samplesOf]] / [[metadataOf]] */
  def parseAll(lines: DataFrame, defaultTsMs: Long): DataFrame =
    lines.withColumn("__p", parseUdf(col("value"), lit(defaultTsMs)))
      .filter(col("__p").isNotNull)
      .select(col("__p.*"))

  /** canonical engine samples (+ `exemplar` struct column, null when absent) */
  def samplesOf(parsed: DataFrame): DataFrame =
    parsed.filter(col("kind") === 0)
      .select(col("labels"), col("t"), col("v"),
        lit(false).as("stale"), lit(null).cast(FHist.schemaType).as("h"),
        col("ex").as("exemplar"))

  /** metadata rows: (family, key ∈ {type,unit,help}, value) pivoted wide */
  def metadataOf(parsed: DataFrame): DataFrame =
    parsed.filter(col("kind") === 1)
      .groupBy(col("family"))
      .agg(
        max(when(col("metaKey") === "type", col("metaVal"))).as("type"),
        max(when(col("metaKey") === "unit", col("metaVal"))).as("unit"),
        max(when(col("metaKey") === "help", col("metaVal"))).as("help"))

  /** attach `__type__`/`__unit__` metadata labels to samples by family name
    * (family = metric name with the OpenMetrics suffix stripped), the same
    * association the reference's scrape loop performs via its metadata store
    * (ref: model/textparse/openmetricsparse.go suffix handling). Broadcast
    * join — metadata is family-cardinality, always small. */
  def attachMeta(samples: DataFrame, meta: DataFrame): DataFrame = {
    val suffix = "(_total|_bucket|_count|_sum|_created|_gcount|_gsum|_info)$"
    val withFam = samples.withColumn("__fam",
      regexp_replace(element_at(col("labels"), "__name__"), suffix, ""))
    withFam.join(broadcast(meta.withColumnRenamed("family", "__fam")), Seq("__fam"), "left")
      .withColumn("labels",
        map_concat(
          map_filter(col("labels"), (k, _) => k =!= "__type__" && k =!= "__unit__"),
          map_filter(
            map(lit("__type__"), col("type"), lit("__unit__"), col("unit")),
            (_, v) => v.isNotNull && v =!= "")))
      .drop("__fam", "type", "unit", "help")
  }

  /** batch convenience: read OpenMetrics text files */
  def read(spark: SparkSession, path: String, defaultTsMs: Long = 0L)
      : (DataFrame, DataFrame) = {
    val parsed = parseAll(spark.read.text(path), defaultTsMs)
    (samplesOf(parsed), metadataOf(parsed))
  }

  /** Go fmt `%g` replica (strconv ftoa 'g' with shortest digits: e-form when
    * the decimal exponent is < -4 or ≥ 6) — the value rendering of promtool's
    * OpenMetrics dump (cmd/promtool/tsdb.go:829). */
  def goG(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "+Inf"
    if (d == Double.NegativeInfinity) return "-Inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0" else "0"
    // true shortest round-trip digits (Go %g parity on JDK 17 — see
    // Json.shortestDecimal; Double.toString alone can over-produce digits)
    val bd = graft.web.Json.shortestDecimal(math.abs(d))
    val exp = bd.precision - bd.scale - 1
    val sign = if (d < 0) "-" else ""
    if (exp < -4 || exp >= 6) {
      val digits = bd.unscaledValue.abs.toString
      val m = if (digits.length == 1) digits else digits.substring(0, 1) + "." + digits.substring(1)
      val es = if (exp < 0) "-" else "+"
      s"$sign${m}e$es" + f"${math.abs(exp)}%02d"
    } else sign + bd.toPlainString
  }

  private def escapeLabelValue(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")

  /** promtool `tsdb dump-openmetrics` analog (ref: cmd/promtool/tsdb.go:820
    * formatSeriesSetOpenMetrics): float samples as
    * `name{labels} %g %.3f` lines, series in label order (the reference's
    * labels.Compare — pairwise by sorted label name/value), samples in time
    * order, trailing `# EOF`. The sort is distributed (range partitioner);
    * only the iterator pages through the driver, so a dump of a huge store
    * streams instead of collecting. Roundtrip property: dump ∘ read = id on
    * canonical input (the reference asserts the same in
    * TestTSDBDumpOpenMetricsRoundTrip). */
  def dumpOpenMetrics(samples: DataFrame): Iterator[String] = {
    val lineUdf = udf { (labels: Map[String, String], v: Double, t: Long) =>
      val name = labels.getOrElse("__name__", "")
      val rest = labels.toSeq.filter(_._1 != "__name__").sortBy(_._1)
      val lb = rest.map { case (k, vv) => s"""$k="${escapeLabelValue(vv)}"""" }.mkString(",")
      val ts = String.format(java.util.Locale.ROOT, "%.3f",
        java.lang.Double.valueOf(t / 1000.0))
      s"$name{$lb} ${goG(v)} $ts"
    }
    // pairwise labels.Compare order == string order on NUL-joined sorted pairs
    val sortKey = udf { (labels: Map[String, String]) =>
      labels.toSeq.sortBy(_._1).map { case (k, v) => k + "\u0000" + v }.mkString("\u0000")
    }
    val it = samples
      .filter(col("h").isNull && !col("stale"))
      .select(lineUdf(col("labels"), col("v"), col("t")).as("__line"),
        sortKey(col("labels")).as("__sk"), col("t"))
      .orderBy(col("__sk"), col("t"))
      .select("__line")
      .toLocalIterator()
    new Iterator[String] {
      private var eof = false
      def hasNext: Boolean = it.hasNext || !eof
      def next(): String =
        if (it.hasNext) it.next().getString(0)
        else { eof = true; "# EOF" }
    }
  }
}

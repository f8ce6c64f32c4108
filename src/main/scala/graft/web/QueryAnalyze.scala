package graft.web

/** `promtool query analyze --type=histogram` analog (ref:
  * cmd/promtool/analyze.go): query `metric[duration]` ranges from a live
  * server and report bucket-population statistics per histogram series —
  * classic series (le-labelled `_bucket` families, de-cumulated per
  * timestamp) and native series (populated = emitted sparse buckets; total
  * = distinct bucket bounds seen) — then min/avg/max distributions over
  * all series. Driver-side client like [[QueryTool]].
  */
object QueryAnalyze {

  /** min/avg/max populated buckets (+ total when it differs) — renders like
    * the reference's statistics.String */
  final case class Stats(minPop: Int, avgPop: Double, maxPop: Int, total: Int) {
    override def toString: String =
      if (maxPop == total) f"$minPop%d/$avgPop%.3f/$maxPop%d"
      else f"$minPop%d/$avgPop%.3f/$maxPop%d/$total%d"
  }

  /** running min/avg/max over ints (ref: distribution) */
  final class Dist {
    var min: Int = Int.MaxValue
    var max: Int = 0
    var count: Int = 0
    var avg: Double = 0.0
    def update(n: Int): Unit = {
      if (n < min) min = n
      if (n > max) max = n
      count += 1
      avg += n.toDouble / count - avg / count
    }
    override def toString: String = f"$min%d/$avg%.3f/$max%d"
  }

  final class MetaStats {
    val minPop = new Dist; val avgPop = new Dist
    val maxPop = new Dist; val total = new Dist
    def count: Int = minPop.count
    def update(s: Stats): Unit = {
      minPop.update(s.minPop); avgPop.update(s.avgPop.toInt)
      maxPop.update(s.maxPop); total.update(s.total)
    }
    def render: String =
      s"histogram series ($count in total):\n- min populated: $minPop\n" +
        s"- avg populated: $avgPop\n- max populated: $maxPop" +
        (if (maxPop.toString == total.toString) "" else s"\n- total: $total")
  }

  private def client = OutboundHttp.default

  private def asMap(a: Any) = a match {
    case m: Map[_, _] => m.asInstanceOf[Map[String, Any]]; case _ => Map.empty[String, Any]
  }
  private def asList(a: Any) = a match { case l: List[_] => l; case _ => Nil }

  /** classic family: de-cumulate adjacent le counts per timestamp, count
    * populated (ref: calcClassicBucketStatistics) */
  def classicStats(leSeries: Seq[(Double, Seq[Double])]): Option[Stats] = {
    val sorted = leSeries.sortBy(_._1)
    val numBuckets = sorted.length
    if (numBuckets == 0 || sorted.head._2.length < 2) return None
    val numSamples = sorted.head._2.length
    var minPop = Int.MaxValue; var maxPop = 0; var totalPop = 0
    var t = 0
    while (t < numSamples) {
      var pop = 0
      var prev = 0.0
      var i = 0
      var aligned = true
      while (i < numBuckets && aligned) {
        val vs = sorted(i)._2
        if (t >= vs.length) {
          // a short bucket series (scrape gap): stop the walk and leave the
          // remaining buckets at zero — the reference's partial-results
          // behavior (getBucketCountsAtTime returns early), NOT a
          // zero-subtraction that would fabricate negative counts
          aligned = false
        } else {
          val cur = vs(t)
          val cnt = if (i == 0) cur else cur - prev
          if (cnt.toInt != 0) pop += 1
          prev = cur
          i += 1
        }
      }
      totalPop += pop
      if (pop < minPop) minPop = pop
      if (pop > maxPop) maxPop = pop
      t += 1
    }
    Some(Stats(minPop, totalPop.toDouble / numSamples, maxPop, numBuckets))
  }

  /** native series: populated = sparse buckets emitted; total = distinct
    * bucket bounds across the range (ref: calcNativeBucketStatistics) */
  def nativeStats(histograms: Seq[Seq[(String, String, String)]]): Option[Stats] = {
    if (histograms.length < 2) return None
    val overall = scala.collection.mutable.Set[(String, String, String)]()
    var minPop = Int.MaxValue; var maxPop = 0; var totalPop = 0
    histograms.foreach { bs =>
      bs.foreach(overall += _)
      val pop = bs.length
      totalPop += pop
      if (pop < minPop) minPop = pop
      if (pop > maxPop) maxPop = pop
    }
    Some(Stats(minPop, totalPop.toDouble / histograms.length, maxPop, overall.size))
  }

  /** run against a live server; matchers are metric names (ref run) */
  def run(server: String, matchers: Seq[String], durationSec: Long,
      time: Option[String]): Either[String, String] = {
    val out = new StringBuilder
    out.append("Bucket stats for each histogram series over time\n")
    out.append("------------------------------------------------\n")
    out.append("First the min, avg, and max number of populated buckets, " +
      "followed by the total\nnumber of buckets (only if different from the " +
      "max number of populated buckets\nwhich is typical for classic but " +
      "not native histograms).\n\n")
    val metaNative = new MetaStats
    val metaClassic = new MetaStats
    matchers.foreach { m =>
      val q = s"$m[${durationSec}s]"
      val t = time.map(s => s"&time=${QueryTool.parseTime(s) / 1000.0}").getOrElse("")
      val resp = client.send(
        java.net.http.HttpRequest.newBuilder(java.net.URI.create(
          s"$server/api/v1/query?query=${java.net.URLEncoder.encode(q, "UTF-8")}$t"))
          .timeout(java.time.Duration.ofMinutes(2)) // ref: 2min query context
          .GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      val body = asMap(JsonLite.parse(resp.body()))
      if (!body.get("status").contains("success"))
        return Left(s"query error: ${body.getOrElse("error", resp.statusCode())}")
      val result = asList(asMap(body("data"))("result")).map(asMap)

      // native series first (ref: histogram-valued series analyzed per series)
      val classicGroups = scala.collection.mutable.Map[
        String, Seq[(Double, Seq[Double])]]()
      result.foreach { series =>
        val metric = asMap(series("metric"))
          .map { case (k, v) => k -> String.valueOf(v) }
        val hs = asList(series.getOrElse("histograms", Nil)).map { p =>
          asList(p) match {
            case _ :: h :: Nil => asList(asMap(h).getOrElse("buckets", Nil))
              .map(b => asList(b) match {
                case rule :: lo :: hi :: _ :: Nil =>
                  (String.valueOf(rule), String.valueOf(lo), String.valueOf(hi))
                case other => throw new IllegalStateException(s"bad bucket $other")
              })
            case other => throw new IllegalStateException(s"bad histogram point $other")
          }
        }
        if (hs.nonEmpty) {
          nativeStats(hs).foreach { s =>
            out.append(s"- ${QueryTool.metricString(metric)} (native): $s\n")
            metaNative.update(s)
          }
        } else {
          val name = metric.getOrElse("__name__", "")
          metric.get("le") match {
            case Some(le) if name.endsWith("_bucket") =>
              val key = name + QueryTool.labelSetString(metric - "__name__" - "le")
              val vals = asList(series.getOrElse("values", Nil)).map(p =>
                asList(p) match {
                  case _ :: (v: String) :: Nil => v.toDouble
                  case other => throw new IllegalStateException(s"bad point $other")
                })
              val leV = le match {
                case "+Inf" | "Inf" => Double.PositiveInfinity
                case "-Inf" => Double.NegativeInfinity
                case x => x.toDouble
              }
              classicGroups(key) =
                classicGroups.getOrElse(key, Nil) :+ (leV -> vals)
            case _ => // not a classic bucket series — skipped like the ref
          }
        }
      }
      classicGroups.toSeq.sortBy(_._1).foreach { case (key, leSeries) =>
        classicStats(leSeries).foreach { s =>
          out.append(s"- $key (classic): $s\n")
          metaClassic.update(s)
        }
      }
    }
    out.append("\nAggregated bucket stats\n-----------------------\n")
    out.append("Each line shows min/avg/max over the series above.\n")
    if (metaNative.count > 0) out.append(s"\nNative ${metaNative.render}\n")
    if (metaClassic.count > 0) out.append(s"\nClassic ${metaClassic.render}\n")
    Right(out.toString)
  }

  /** CLI: `runMain graft.web.QueryAnalyze <server> <durationSec> <metric>...` */
  def main(args: Array[String]): Unit = args.toList match {
    case server :: dur :: ms if ms.nonEmpty =>
      run(server, ms, dur.toLong, None) match {
        case Right(text) => print(text)
        case Left(err) => System.err.println(err); sys.exit(1)
      }
    case _ =>
      System.err.println("usage: QueryAnalyze <server> <durationSec> <metric>...")
      sys.exit(2)
  }
}

package graft.web

import graft.promql.{Engine, LabelMatcher, MatchOp, Parser, VectorSelector}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** promtool `tsdb dump` analog (ref: cmd/promtool/tsdb.go:706 dumpSamples,
  * :753 formatSeriesSet, :796 formatSeriesSetLabelsToJSON): select the union
  * of the given series matchers within [mint, maxt], format driver-side via
  * a paged iterator. Matcher union compiles to ONE disjunctive filter pass —
  * the reference merges per-matcher SeriesSets with dedup; a single OR scan
  * is the same set without the merge. Output order is unspecified (the
  * reference's own tests sort lines before comparing). */
object TsdbDump {

  private def matcherList(sel: String): List[LabelMatcher] =
    Parser.parse(sel) match {
      case VectorSelector(name, ms, _, _) =>
        name.map(n => LabelMatcher("__name__", MatchOp.Eq, n)).toList ++ ms
      case other => throw new IllegalArgumentException(s"expected a selector, got $other")
    }

  private def cond(ms: List[LabelMatcher]): Column =
    ms.map(_.cond(col("labels"))).reduce(_ && _)

  private def selected(samples: DataFrame, mintMs: Long, maxtMs: Long,
      matchers: Seq[String]): DataFrame = {
    val sel = matchers.map(m => cond(matcherList(m))).reduce(_ || _)
    Engine.canonical(samples)
      .filter(sel && col("t") >= mintMs && col("t") <= maxtMs && !col("stale"))
  }

  private def goQuote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\t' => "\\t"
      case c => c.toString
    } + "\""

  /** `{k="v", k2="v2"} %g %d` float-sample lines (formatSeriesSet) */
  def dumpSamples(samples: DataFrame, mintMs: Long, maxtMs: Long,
      matchers: Seq[String]): Iterator[String] = {
    val line = udf { (labels: Map[String, String], v: Double, t: Long) =>
      val lb = labels.toSeq.sortBy(_._1)
        .map { case (k, vv) => s"$k=${goQuote(vv)}" }.mkString(", ")
      s"{$lb} ${graft.streaming.OpenMetrics.goG(v)} $t"
    }
    selected(samples, mintMs, maxtMs, matchers)
      .filter(col("h").isNull)
      .select(line(col("labels"), col("v"), col("t")).as("l"))
      .toLocalIterator().asScala.map(_.getString(0))
  }

  /** distinct labelsets as compact sorted-key JSON (formatSeriesSetLabelsToJSON) */
  def dumpSeries(samples: DataFrame, mintMs: Long, maxtMs: Long,
      matchers: Seq[String]): Iterator[String] = {
    val line = udf { (labels: Map[String, String]) =>
      labels.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${goQuote(k)}:${goQuote(v)}" }.mkString("{", ",", "}")
    }
    selected(samples, mintMs, maxtMs, matchers)
      .select(line(col("labels")).as("l")).distinct()
      .toLocalIterator().asScala.map(_.getString(0))
  }

  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }
}

package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._

/** Relabeling DSL — the ingest-time label-set transform applied at target
  * discovery and scrape time (ref: model/relabel/relabel.go:44-68).
  *
  * One evaluator, [[applyToMap]], runs a rule chain over one label set: the
  * scrape path, target and alertmanager discovery, the notifier, remote-write
  * forwarding and the relabel endpoint call it on the driver, and the
  * streaming source runs it as a UDF ([[apply]]). Regexes are fully anchored
  * like the reference's; each rule compiles its pattern and its expanded
  * replacement and target once.
  */
object Relabel {

  sealed trait Action
  case object Replace extends Action
  case object Keep extends Action
  case object Drop extends Action
  case object KeepEqual extends Action
  case object DropEqual extends Action
  case object HashMod extends Action
  case object LabelMap extends Action
  case object LabelDrop extends Action
  case object LabelKeep extends Action
  case object Lowercase extends Action
  case object Uppercase extends Action

  /** one relabel_config (defaults ref: relabel.go DefaultRelabelConfig:
    * separator ";", regex "(.*)", replacement "$1") */
  final case class Rule(
      action: Action,
      sourceLabels: Seq[String] = Nil,
      separator: String = ";",
      regex: String = "(.*)",
      targetLabel: String = "",
      replacement: String = "$1",
      modulus: Long = 0L) {
    // compiled once per rule, and again where a UDF deserializes the rules
    @transient private[Relabel] lazy val pattern: java.util.regex.Pattern =
      java.util.regex.Pattern.compile(anchored(regex))
    @transient private[Relabel] lazy val javaReplacement: String =
      goExpandToJava(replacement, pattern)
    @transient private[Relabel] lazy val javaTarget: String = goExpandToJava(targetLabel, pattern)
  }

  private def anchored(re: String): String =
    "^(?:" + re.replace("(?P<", "(?<") + ")$" // Go RE2 named-group syntax → Java

  /** Go regexp.Expand replacement syntax → Java Matcher syntax:
    * `$$` → literal `$`; `${1}` → `$1` (Java braces only NAMED groups);
    * `$name`/`${name}` → `${name}`; group refs the pattern doesn't define
    * expand to EMPTY (Go semantics; Java would throw)
    * (ref: model/relabel/relabel.go Process uses regexp.Expand). */
  private[streaming] def goExpandToJava(repl: String, pattern: java.util.regex.Pattern): String = {
    val groupCount = pattern.matcher("").groupCount()
    val namedGroups = "\\(\\?<([A-Za-z][A-Za-z0-9]*)>".r
      .findAllMatchIn(pattern.pattern()).map(_.group(1)).toSet
    val sb = new StringBuilder
    var i = 0
    val n = repl.length
    while (i < n) {
      val c = repl.charAt(i)
      if (c == '\\') { sb ++= "\\\\"; i += 1 }
      else if (c != '$') { sb += c; i += 1 }
      else if (i + 1 >= n) { sb ++= "\\$"; i += 1 }
      else repl.charAt(i + 1) match {
        case '$' => sb ++= "\\$"; i += 2
        case '{' =>
          val close = repl.indexOf('}', i + 2)
          if (close < 0) { sb ++= "\\$"; i += 1 }
          else {
            val name = repl.substring(i + 2, close)
            if (name.nonEmpty && name.forall(_.isDigit)) {
              if (name.length < 9 && name.toInt <= groupCount) sb ++= "$" + name
            } else if (namedGroups.contains(name)) sb ++= "${" + name + "}"
            i = close + 1
          }
        case a if a.isLetterOrDigit || a == '_' =>
          // Go regexp.Expand scans the LONGEST [A-Za-z0-9_]+ run as ONE
          // name — "$1x" is the (undefined) group "1x" expanding to empty,
          // NOT group 1 followed by "x" (the documented ${1}x gotcha)
          var j = i + 1
          while (j < n && (repl.charAt(j).isLetterOrDigit || repl.charAt(j) == '_')) j += 1
          val name = repl.substring(i + 1, j)
          if (name.forall(_.isDigit)) {
            if (name.length < 9 && name.toInt <= groupCount) sb ++= "$" + name
          } else if (namedGroups.contains(name)) sb ++= "${" + name + "}"
          i = j
        case _ => sb ++= "\\$"; i += 1
      }
    }
    sb.toString
  }

  /** apply a rule chain to a samples DataFrame (column `labels`): one UDF
    * over [[applyToMap]] per row; a dropped row's labels are null, and the
    * row is filtered out */
  def apply(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    val labelsType = df.schema("labels").dataType
    val relabel = udf(new UDF1[scala.collection.Map[String, String], Map[String, String]] {
      def call(labels: scala.collection.Map[String, String]) =
        applyToMap(labels.toMap, rules).orNull
    }, labelsType)
    df.withColumn("labels", relabel(col("labels"))).filter(col("labels").isNotNull)
  }

  /** relabel one label set (ref: model/relabel/relabel.go:206 Process).
    * None = the label set is dropped. */
  def applyToMap(labels0: Map[String, String], rules: Seq[Rule]): Option[Map[String, String]] = {
    var labels = labels0
    def setLbl(m: Map[String, String], name: String, value: String): Map[String, String] =
      if (value.isEmpty) m - name else m.updated(name, value)
    for (r <- rules) {
      val v = r.sourceLabels.map(l => labels.getOrElse(l, "")).mkString(r.separator)
      val re = r.pattern
      val matches = re.matcher(v).matches()
      r.action match {
        case Keep => if (!matches) return None
        case Drop => if (matches) return None
        case KeepEqual => if (v != labels.getOrElse(r.targetLabel, "")) return None
        case DropEqual => if (v == labels.getOrElse(r.targetLabel, "")) return None
        case Replace =>
          if (matches) {
            val expanded = re.matcher(v).replaceAll(r.javaReplacement)
            val tgt = re.matcher(v).replaceAll(r.javaTarget)
            labels = setLbl(labels, tgt, expanded)
          }
        case Lowercase => labels = setLbl(labels, r.targetLabel, v.toLowerCase)
        case Uppercase => labels = setLbl(labels, r.targetLabel, v.toUpperCase)
        case HashMod =>
          val d = java.security.MessageDigest.getInstance("MD5").digest(v.getBytes("UTF-8"))
          var h = 0L
          var i = 8
          while (i < 16) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          labels = setLbl(labels, r.targetLabel,
            java.lang.Long.remainderUnsigned(h, r.modulus).toString)
        case LabelMap =>
          val add = labels.collect {
            case (k, value) if re.matcher(k).matches() =>
              re.matcher(k).replaceAll(r.javaReplacement) -> value
          }
          labels = labels ++ add
        case LabelDrop => labels = labels.filter { case (k, _) => !re.matcher(k).matches() }
        case LabelKeep => labels = labels.filter { case (k, _) => re.matcher(k).matches() }
      }
    }
    Some(labels)
  }
}

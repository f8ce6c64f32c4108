package graft.promql

/** PromQL abstract syntax tree.
  *
  * Node set mirrors the reference grammar's 12 node types
  * (ref: promql/parser/ast.go) but is an original Scala design: durations and
  * timestamps are resolved to Long millis at parse time, and the planner (not
  * the AST) owns evaluation semantics.
  */
sealed trait Expr {
  /** PromQL value type of this expression. */
  def valueType: ValueType
}

sealed trait ValueType
object ValueType {
  case object Scalar extends ValueType
  case object InstantVector extends ValueType
  case object RangeVector extends ValueType
  case object StringV extends ValueType
}

/** Label matcher op (ref: model/labels/matcher.go:22-36). */
sealed trait MatchOp
object MatchOp {
  case object Eq extends MatchOp      // =
  case object Neq extends MatchOp     // !=
  case object Re extends MatchOp      // =~  (fully anchored)
  case object NotRe extends MatchOp   // !~
}
final case class LabelMatcher(name: String, op: MatchOp, value: String) {
  /** does a label value (absent = "") satisfy this matcher, outside any
    * DataFrame; regexes are fully anchored */
  def matches(v: String): Boolean = op match {
    case MatchOp.Eq => v == value
    case MatchOp.Neq => v != value
    case MatchOp.Re => java.util.regex.Pattern.matches("(?:" + value + ")", v)
    case MatchOp.NotRe => !java.util.regex.Pattern.matches("(?:" + value + ")", v)
  }

  /** the same test as a Spark predicate over a `labels` map column */
  def cond(labels: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, element_at, lit}
    val c = coalesce(element_at(labels, name), lit(""))
    op match {
      case MatchOp.Eq => c === value
      case MatchOp.Neq => c =!= value
      case MatchOp.Re => c.rlike("^(?:" + value + ")$")
      case MatchOp.NotRe => !c.rlike("^(?:" + value + ")$")
    }
  }
}

/** `@` modifier target (ref: promql/parser/ast.go AtModifier). */
sealed trait AtModifier
object AtModifier {
  final case class AtTimestamp(ms: Long) extends AtModifier
  case object AtStart extends AtModifier
  case object AtEnd extends AtModifier
}

final case class NumberLiteral(value: Double) extends Expr {
  def valueType: ValueType = ValueType.Scalar
}
final case class StringLiteral(value: String) extends Expr {
  def valueType: ValueType = ValueType.StringV
}

final case class VectorSelector(
    metricName: Option[String],
    matchers: List[LabelMatcher],
    offsetMs: Long = 0L,
    at: Option[AtModifier] = None) extends Expr {
  def valueType: ValueType = ValueType.InstantVector
}

/** ext: 0 = plain, 1 = anchored, 2 = smoothed (experimental extended range
  * selectors, ref: promql/parser/lex.go:132-133, engine.go:2848). */
final case class MatrixSelector(vs: VectorSelector, rangeMs: Long, ext: Int = 0) extends Expr {
  def valueType: ValueType = ValueType.RangeVector
}

/** `metric smoothed` — instant selector with linear interpolation at the
  * evaluation timestamp (ref: promql/engine.go:1730 smoothSeries). */
final case class SmoothedVector(vs: VectorSelector) extends Expr {
  def valueType: ValueType = ValueType.InstantVector
}

/** `expr[range:step]` — step 0 means "use default eval interval". */
final case class SubqueryExpr(
    expr: Expr, rangeMs: Long, stepMs: Long,
    offsetMs: Long = 0L, at: Option[AtModifier] = None) extends Expr {
  def valueType: ValueType = ValueType.RangeVector
}

final case class Call(name: String, args: List[Expr]) extends Expr {
  def valueType: ValueType =
    Functions.registry.get(name).map(_.returnType).getOrElse(ValueType.InstantVector)
}

/** Aggregation (ref: promql/parser/ast.go AggregateExpr). `without=false` with
  * empty grouping = aggregate everything into one group. */
final case class AggregateExpr(
    op: String, expr: Expr, param: Option[Expr],
    grouping: List[String], without: Boolean) extends Expr {
  def valueType: ValueType = ValueType.InstantVector
}

sealed trait MatchCard
object MatchCard {
  case object OneToOne extends MatchCard
  case object ManyToOne extends MatchCard   // group_left
  case object OneToMany extends MatchCard   // group_right
}
final case class VectorMatching(
    card: MatchCard = MatchCard.OneToOne,
    matchingLabels: List[String] = Nil,
    on: Boolean = false,
    include: List[String] = Nil,
    // fill/fill_left/fill_right modifiers (ref: parser/ast.go:329
    // VectorMatchFillValues): value used when that SIDE has no match
    fillLhs: Option[Double] = None,
    fillRhs: Option[Double] = None)

final case class BinaryExpr(
    op: String, lhs: Expr, rhs: Expr,
    matching: VectorMatching = VectorMatching(),
    returnBool: Boolean = false) extends Expr {
  def valueType: ValueType =
    if (lhs.valueType == ValueType.Scalar && rhs.valueType == ValueType.Scalar)
      ValueType.Scalar
    else ValueType.InstantVector
}

final case class UnaryExpr(op: String, expr: Expr) extends Expr {
  def valueType: ValueType = expr.valueType
}

final case class ParenExpr(expr: Expr) extends Expr {
  def valueType: ValueType = expr.valueType
}

/** Function signature metadata (ref: promql/parser/functions.go). */
final case class FunctionSig(
    name: String,
    argTypes: List[ValueType],
    returnType: ValueType,
    variadic: Int = 0) // 0 = fixed arity; -1 = unlimited; n = up to n optional

object Functions {
  import ValueType._
  private def f(name: String, args: List[ValueType], ret: ValueType, variadic: Int = 0) =
    name -> FunctionSig(name, args, ret, variadic)

  /** Complete registry matching promql/parser/functions.go (90 entries). */
  val registry: Map[String, FunctionSig] = Map(
    f("abs", List(InstantVector), InstantVector),
    f("absent", List(InstantVector), InstantVector),
    f("absent_over_time", List(RangeVector), InstantVector),
    f("acos", List(InstantVector), InstantVector),
    f("acosh", List(InstantVector), InstantVector),
    f("asin", List(InstantVector), InstantVector),
    f("asinh", List(InstantVector), InstantVector),
    f("atan", List(InstantVector), InstantVector),
    f("atanh", List(InstantVector), InstantVector),
    f("avg_over_time", List(RangeVector), InstantVector),
    f("ceil", List(InstantVector), InstantVector),
    f("changes", List(RangeVector), InstantVector),
    f("clamp", List(InstantVector, Scalar, Scalar), InstantVector),
    f("clamp_max", List(InstantVector, Scalar), InstantVector),
    f("clamp_min", List(InstantVector, Scalar), InstantVector),
    f("cos", List(InstantVector), InstantVector),
    f("cosh", List(InstantVector), InstantVector),
    f("count_over_time", List(RangeVector), InstantVector),
    f("days_in_month", List(InstantVector), InstantVector, 1),
    f("day_of_month", List(InstantVector), InstantVector, 1),
    f("day_of_week", List(InstantVector), InstantVector, 1),
    f("day_of_year", List(InstantVector), InstantVector, 1),
    f("deg", List(InstantVector), InstantVector),
    f("delta", List(RangeVector), InstantVector),
    f("deriv", List(RangeVector), InstantVector),
    f("double_exponential_smoothing", List(RangeVector, Scalar, Scalar), InstantVector),
    f("exp", List(InstantVector), InstantVector),
    f("first_over_time", List(RangeVector), InstantVector),
    f("floor", List(InstantVector), InstantVector),
    f("histogram_avg", List(InstantVector), InstantVector),
    f("histogram_count", List(InstantVector), InstantVector),
    f("histogram_fraction", List(Scalar, Scalar, InstantVector), InstantVector),
    f("histogram_quantile", List(Scalar, InstantVector), InstantVector),
    f("histogram_stddev", List(InstantVector), InstantVector),
    f("histogram_stdvar", List(InstantVector), InstantVector),
    f("histogram_sum", List(InstantVector), InstantVector),
    f("hour", List(InstantVector), InstantVector, 1),
    f("idelta", List(RangeVector), InstantVector),
    f("increase", List(RangeVector), InstantVector),
    f("info", List(InstantVector), InstantVector, 1),
    f("irate", List(RangeVector), InstantVector),
    f("label_join", List(InstantVector, StringV, StringV, StringV), InstantVector, -1),
    f("label_replace", List(InstantVector, StringV, StringV, StringV, StringV), InstantVector),
    f("last_over_time", List(RangeVector), InstantVector),
    f("ln", List(InstantVector), InstantVector),
    f("log10", List(InstantVector), InstantVector),
    f("log2", List(InstantVector), InstantVector),
    f("mad_over_time", List(RangeVector), InstantVector),
    f("max_over_time", List(RangeVector), InstantVector),
    f("max_of", List(Scalar), Scalar, -1),
    f("min_of", List(Scalar), Scalar, -1),
    f("min_over_time", List(RangeVector), InstantVector),
    f("minute", List(InstantVector), InstantVector, 1),
    f("month", List(InstantVector), InstantVector, 1),
    f("pi", Nil, Scalar),
    f("predict_linear", List(RangeVector, Scalar), InstantVector),
    f("present_over_time", List(RangeVector), InstantVector),
    f("quantile_over_time", List(Scalar, RangeVector), InstantVector),
    f("rad", List(InstantVector), InstantVector),
    f("rate", List(RangeVector), InstantVector),
    f("resets", List(RangeVector), InstantVector),
    f("round", List(InstantVector, Scalar), InstantVector, 1),
    f("scalar", List(InstantVector), Scalar),
    f("sgn", List(InstantVector), InstantVector),
    f("sin", List(InstantVector), InstantVector),
    f("sinh", List(InstantVector), InstantVector),
    f("sort", List(InstantVector), InstantVector),
    // query-context scalar functions (ref: promql/parser/functions.go end/start/
    // step/range entries; resolved per-query, promql/engine.go:4472-4478)
    f("start", Nil, Scalar),
    f("end", Nil, Scalar),
    f("step", Nil, Scalar),
    f("range", Nil, Scalar),
    f("start_timestamp", List(InstantVector), InstantVector, 1),
    f("histogram_quantiles", List(InstantVector, StringV, Scalar, Scalar), InstantVector, 9),
    f("sort_desc", List(InstantVector), InstantVector),
    f("sort_by_label", List(InstantVector, StringV), InstantVector, -1),
    f("sort_by_label_desc", List(InstantVector, StringV), InstantVector, -1),
    f("sqrt", List(InstantVector), InstantVector),
    f("stddev_over_time", List(RangeVector), InstantVector),
    f("stdvar_over_time", List(RangeVector), InstantVector),
    f("sum_over_time", List(RangeVector), InstantVector),
    f("tan", List(InstantVector), InstantVector),
    f("tanh", List(InstantVector), InstantVector),
    f("time", Nil, Scalar),
    f("timestamp", List(InstantVector), InstantVector),
    f("ts_of_first_over_time", List(RangeVector), InstantVector),
    f("ts_of_last_over_time", List(RangeVector), InstantVector),
    f("ts_of_max_over_time", List(RangeVector), InstantVector),
    f("ts_of_min_over_time", List(RangeVector), InstantVector),
    f("vector", List(Scalar), InstantVector),
    f("year", List(InstantVector), InstantVector, 1),
  )

  val aggregators: Set[String] = Set(
    "sum", "avg", "count", "min", "max", "group", "stddev", "stdvar",
    "quantile", "topk", "bottomk", "limitk", "limit_ratio", "count_values")
  /** aggregators taking a leading parameter */
  val paramAggregators: Set[String] =
    Set("quantile", "topk", "bottomk", "limitk", "limit_ratio", "count_values")
}

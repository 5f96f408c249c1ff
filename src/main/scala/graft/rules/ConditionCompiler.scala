package graft.rules

import graft.model.{Condition, RuleValue}
import graft.model.RuleValidator.resolve
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Compiles one predicate leaf into a Spark [[Column]].
  *
  * Covers the full operator vocabulary of the reference engine — the union of
  * `SqlComparableOperator` (`IQueryableRuleEvaluator.cs:579-589`) and
  * `MethodBasedOperator` (`IQueryableRuleEvaluator.cs:591-612`) — 27 operators,
  * SURVEY §2.2. Operator names match case-insensitively
  * (`IQueryableRuleEvaluator.cs:135`).
  *
  * Null semantics: the reference runs two-valued .NET logic. Equality-family
  * operators are compiled null-safe (`<=>`) so `null != "a"` is TRUE like in
  * C#; ordered comparisons / string methods on null yield SQL null, which the
  * filter boundary collapses to FALSE — our documented divergence from the
  * reference's row-level NullReferenceException (SURVEY §2.7.1/5: cast-to-null
  * scales, crashing doesn't).
  */
object ConditionCompiler {

  /** Operators that trigger the numeric lift on string columns
    * (reference `IsNumericOperator`, `IQueryableRuleEvaluator.cs:561-565`).
    */
  private val numericOps =
    Set("greaterthan", "greaterthanorequal", "lessthan", "lessthanorequal")

  /** Decimal type used for the reference's `decimal.Parse` lift
    * (`IQueryableRuleEvaluator.cs:128-132`).
    */
  val LiftType: DecimalType = DecimalType(38, 18)

  def compile(schema: StructType, c: Condition, params: Map[String, Any]): Column = {
    val name = resolve(schema, c.property).getOrElse(
      throw new IllegalArgumentException(s"Unknown property '${c.property}'"))
    val dt = schema(name).dataType
    val raw = col(name)
    val op = c.operator.toLowerCase

    // Numeric lift: string property + ordered comparison → compare as decimal
    // (reference wraps the access in decimal.Parse, IQueryableRuleEvaluator.cs:128-132).
    // try_cast: unparseable → null → predicate false (declared divergence
    // §2.7.1; plain cast would THROW under Spark 4's default ANSI mode).
    val (lhs, lhsType): (Column, DataType) =
      if (numericOps(op) && dt == StringType) (raw.try_cast(LiftType), LiftType) else (raw, dt)

    // A JSON-null value resolves to the external parameter keyed by the
    // property name (IQueryableRuleEvaluator.cs:238-241, 313-329); None
    // when no parameter key matches.
    lazy val resolved: Option[RuleValue] = c.value match {
      case RuleValue.Null =>
        params.collectFirst { case (k, v) if k.equalsIgnoreCase(c.property) => anyToValue(v) }
      case v => Some(v)
    }
    def value: RuleValue = resolved.getOrElse(throw new IllegalArgumentException(
      s"External parameter '${c.property}' was not supplied."))
    // Like `value`, but a JSON null with no matching param stays null
    // (the Dynamic* family tests the resolved constant itself).
    def valueOrNull: RuleValue = resolved.getOrElse(RuleValue.Null)
    def lhsLit: Column = coerceLit(value, lhsType)

    op match {
      // -- comparison family (IQueryableRuleEvaluator.cs:280-285) --
      case "equal"              => lhs <=> lhsLit
      case "notequal"           => !(lhs <=> lhsLit)
      case "greaterthan"        => lhs > lhsLit
      case "greaterthanorequal" => lhs >= lhsLit
      case "lessthan"           => lhs < lhsLit
      case "lessthanorequal"    => lhs <= lhsLit

      // -- membership (IQueryableRuleEvaluator.cs:162-180): OR-chain of
      //    equalities; null column compares false, so NotIn keeps nulls --
      case "in" | "notin" =>
        val items = value match {
          case RuleValue.Arr(xs) => xs
          case _ => throw new IllegalArgumentException(
            s"Operator '${c.operator}' requires an array value.")
        }
        val chain = items
          .map(v => lhs <=> coerceLit(v, lhsType))
          .reduceOption(_ || _).getOrElse(lit(false))
        if (op == "in") chain else !chain

      // -- string methods, case-sensitive ordinal (IQueryableRuleEvaluator.cs:286-307) --
      case "contains"    => lhs.contains(coerceLit(value, StringType))
      case "notcontains" => !lhs.contains(coerceLit(value, StringType))
      case "startswith"  => lhs.startsWith(coerceLit(value, StringType))
      case "endswith"    => lhs.endsWith(coerceLit(value, StringType))

      // -- null / emptiness family (IQueryableRuleEvaluator.cs:195-228) --
      case "null"    => lhs.isNull
      case "notnull" => lhs.isNotNull
      case "notempty" => notEmpty(lhs, dt)
      case "empty"    => !notEmpty(lhs, dt)
      case "nullorempty" =>
        if (dt == StringType) lhs.isNull || lhs === lit("") else lhs.isNull
      // Reference `:210-216` is a tautology (OrElse of the two negations);
      // we implement the intended conjunction — SURVEY §2.2 row 18.
      case "notnullorempty" =>
        if (dt == StringType) lhs.isNotNull && lhs =!= lit("") else lhs.isNotNull

      // -- regex-count family (IQueryableRuleEvaluator.cs:413-529) --
      case "mustcontainifcountisgreater" =>
        val (target, required, th) = regexArgs(value, requiredNeeded = true)
        val s = lhs.cast(StringType)
        regexp_count(s, lit(target)) > lit(th) &&
          contains(lower(s), lower(lit(required)))
      case "containifcountisgreater" =>
        val (target, _, th) = regexArgs(value, requiredNeeded = false)
        regexp_count(lhs.cast(StringType), lit(target)) > lit(th)
      case "containifcountisless" =>
        val (target, _, th) = regexArgs(value, requiredNeeded = false)
        regexp_count(lhs.cast(StringType), lit(target)) < lit(th)

      // -- material implication (IQueryableRuleEvaluator.cs:379-411):
      //    compiled to `check ? then : true` --
      case "if" =>
        val o = value match {
          case v: RuleValue.Obj => v
          case _ => throw new IllegalArgumentException("If requires {Check, Then}.")
        }
        def inner(key: String): Column = o.get(key) match {
          case Some(io: RuleValue.Obj) =>
            val p = io.get("Property").collect { case RuleValue.Str(s) => s }
              .getOrElse(throw new IllegalArgumentException(s"If.$key.Property missing"))
            val oper = io.get("Operator").collect { case RuleValue.Str(s) => s }
              .getOrElse(throw new IllegalArgumentException(s"If.$key.Operator missing"))
            compile(schema, Condition(p, oper, io.get("Value").getOrElse(RuleValue.Null)), params)
          case _ => throw new IllegalArgumentException(s"If.$key must be an object condition")
        }
        when(inner("Check"), inner("Then")).otherwise(lit(true))

      // -- Dynamic* family (IQueryableRuleEvaluator.cs:238-276): the constant
      //    resolves from externalParams; emptiness tests run against the
      //    CONSTANT, not the column, so they fold to literals driver-side --
      case "dynamicequal"         => lhs <=> coerceLit(value, lhsType)
      case "dynamicnullorempty"   => lit(isBlank(valueOrNull))
      case "dynamicnotnullorempty" => lit(!isBlank(valueOrNull))
      case "dynamicnotempty"      => lit(constNotEmpty(valueOrNull))
      case "dynamicempty"         => lit(!constNotEmpty(valueOrNull))

      case other =>
        throw new IllegalArgumentException(s"Operator '$other' is not supported.")
    }
  }

  /** Type-directed emptiness (reference `BuildNotEmptyExpression`,
    * `IQueryableRuleEvaluator.cs:338-377`). The reference's collection branch
    * is unreachable as written (open-generic IsAssignableFrom bug, SURVEY
    * §1.2); we implement its intent for array/map columns.
    */
  private def notEmpty(c: Column, dt: DataType): Column = dt match {
    case StringType               => c.isNotNull && length(c) > 0
    case _: ArrayType | _: MapType => c.isNotNull && size(c) > 0
    case _                        => c.isNotNull
  }

  /** `{Target, Required, Threshold}` of the regex-count operators
    * (`IQueryableRuleEvaluator.cs:417-430`). Threshold arrives as a JSON
    * string in the reference corpus (`:424-425`); accept both string and
    * number.
    */
  private def regexArgs(v: RuleValue, requiredNeeded: Boolean): (String, String, Int) = {
    val o = v match {
      case x: RuleValue.Obj => x
      case _ => throw new IllegalArgumentException(
        "Regex-count operators require {Target, Required, Threshold}.")
    }
    def str(k: String): Option[String] = o.get(k).collect {
      case RuleValue.Str(s) => s
      case RuleValue.Num(n) => n.underlying.toPlainString
    }
    val target = str("Target").getOrElse(
      throw new IllegalArgumentException("Target is required."))
    val required = str("Required").getOrElse {
      if (requiredNeeded) throw new IllegalArgumentException("Required is required.")
      else ""
    }
    val th = str("Threshold").map(_.trim.toInt).getOrElse(0)
    (target, required, th)
  }

  /** Coerces a JSON value to a literal of the column's type (reference
    * `ExtractValueWithCoercion`, `IQueryableRuleEvaluator.cs:531-559`).
    * Unparseable casts yield null (→ predicate false) rather than the
    * reference's row-level throw — SURVEY §2.7.1.
    */
  def coerceLit(v: RuleValue, dt: DataType): Column = v match {
    case RuleValue.Null    => lit(null).cast(dt)
    case RuleValue.Bool(b) => dt match {
      case BooleanType => lit(b)
      case StringType  => lit(b.toString)
      case other       => lit(b).try_cast(other)
    }
    case RuleValue.Num(n) => dt match {
      case StringType      => lit(n.underlying.stripTrailingZeros.toPlainString)
      // Integral columns: a whole in-range constant narrows to the exact
      // column type (comparison stays pushdown-able into the scan). A
      // FRACTIONAL or out-of-range constant must NOT be truncated/wrapped
      // (r1 compiled `> 10.6` on an int column as `> 10` — silently
      // matching different rows): compare against the exact decimal and
      // let Spark widen the column. Documented divergence from the
      // reference's Convert.ChangeType half-even rounding — exact
      // comparison is the only self-consistent reading of the rule.
      case IntegerType if n.isWhole && n.isValidInt  => lit(n.toInt)
      case LongType    if n.isWhole && n.isValidLong => lit(n.toLong)
      case ShortType   if n.isWhole && n.isValidShort => lit(n.toShort)
      case ByteType    if n.isWhole && n.isValidByte  => lit(n.toByte)
      case IntegerType | LongType | ShortType | ByteType => lit(n.underlying)
      case DoubleType      => lit(n.toDouble)
      case FloatType       => lit(n.toFloat)
      case d: DecimalType  => lit(n.underlying).try_cast(d)
      case other           => lit(n.underlying).try_cast(other)
    }
    case RuleValue.Str(s) => dt match {
      case StringType => lit(s)
      case other      => lit(s).try_cast(other) // numeric/timestamp/bool parse; null on failure
    }
    case other => throw new IllegalArgumentException(
      s"Cannot use structured value $other as a comparison constant.")
  }

  private def anyToValue(a: Any): RuleValue = a match {
    case null          => RuleValue.Null
    case s: String     => RuleValue.Str(s)
    case b: Boolean    => RuleValue.Bool(b)
    case i: Int        => RuleValue.Num(BigDecimal(i))
    case l: Long       => RuleValue.Num(BigDecimal(l))
    case d: Double     => RuleValue.Num(BigDecimal(d))
    case f: Float      => RuleValue.Num(BigDecimal(f.toDouble))
    case b: BigDecimal => RuleValue.Num(b)
    case xs: Seq[_]    => RuleValue.Arr(xs.map(anyToValue))
    case v: RuleValue  => v
    case other         => RuleValue.Str(other.toString)
  }

  /** `string.IsNullOrWhiteSpace` over the resolved constant
    * (`IQueryableRuleEvaluator.cs:249-256`).
    */
  private def isBlank(v: RuleValue): Boolean = v match {
    case RuleValue.Null   => true
    case RuleValue.Str(s) => s == null || s.trim.isEmpty
    case _                => false // numbers/bools stringify non-blank
  }

  /** Emptiness of the resolved constant (`IQueryableRuleEvaluator.cs:265-268`). */
  private def constNotEmpty(v: RuleValue): Boolean = v match {
    case RuleValue.Null     => false
    case RuleValue.Str(s)   => s != null && s.nonEmpty
    case RuleValue.Arr(xs)  => xs.nonEmpty
    case _                  => true
  }
}

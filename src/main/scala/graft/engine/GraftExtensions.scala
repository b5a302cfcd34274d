package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** Session extensions installing the DuckDB dialect at the PARSER level
  * (SparkSessionExtensions.injectParser), so every SQL entry point —
  * `spark.sql`, the Gateway, and Thrift/JDBC client sessions that never
  * pass through Gateway.sql — gets the same text rewrites (QUALIFY,
  * `//`, GLOB, `->>`, catalog table functions, PRAGMA/SHOW/DESCRIBE/
  * SUMMARIZE/UNPIVOT statements; Dialect.rewrite), once,
  * and the analyzer rules and operators those rewrites rely on — the
  * ASOF join among them, so it runs on every session built with this
  * extension.
  *
  * Activate with
  * `spark.sql.extensions=graft.engine.GraftExtensions` (config-only, the
  * standard Catalyst extension mechanism) when building the session;
  * graft.Serve does. Gateway.open requires it and does not install it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // capture the owning session: ReadOnlyGuard reads ITS conf, not the
    // thread-local active-session conf (which is ambient state that can
    // point at a sibling session)
    ext.injectParser((session, delegate) => new GraftSqlParser(delegate, Some(session)))
    // whole-operator ASOF join (SURVEY §2.3 J7): custom LogicalPlan +
    // Strategy + SparkPlan — graft.plans.AsOfJoinPlan. Served ASOF SQL
    // reaches it in three steps, all from here: the parser's
    // Dialect.rewriteAsOf marks the join's ON with graft_asof(), the
    // resolution rule turns the marked Join into an AsOfJoinNode, and
    // the strategy plans that as AsOfJoinExec; in between, the optimizer
    // rule drops the payload columns nothing above the node reads
    ext.injectFunction((FunctionIdentifier("graft_asof"),
      new ExpressionInfo(classOf[graft.plans.AsOfMarker].getName, "graft_asof"),
      args => {
        if (args.nonEmpty) throw new GatewayException("graft_asof() takes no arguments")
        graft.plans.AsOfMarker()
      }))
    ext.injectResolutionRule(_ => graft.plans.ResolveAsOfJoin)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsOfPayload)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // DuckDB `ts::TIME` (time-of-day of a timestamp): Spark 4.1 has the
    // TIME type but no timestamp→time cast — rewrite it at resolution
    ext.injectResolutionRule(_ => TimestampToTimeCast)
    // DuckDB zero-divisor semantics: x/0, x//0, x%0 are NULL (even under
    // its strict typing), while Spark's ANSI mode raises — demote the
    // three division ops from ANSI to TRY eval so the dialect matches
    ext.injectResolutionRule(_ => DuckDivisionByZero)
    // DuckDB BLOB→VARCHAR renders non-printables as \xHH; Spark's Cast
    // reinterprets the raw bytes as UTF-8 — swap in the escaping form
    ext.injectResolutionRule(_ => BlobVarcharCast)
    // DuckDB unnest over structs / recursive unnest — type-dependent
    // generator choice Spark's fixed explode can't express
    ext.injectResolutionRule(_ => DuckUnnest)
    // DuckDB compares BOOLEAN with numerics (true > 0 is legal, via an
    // implicit bool→int cast in comparisons ONLY — bool+1 errors there
    // too); Spark rejects the comparison outright
    ext.injectResolutionRule(_ => DuckBoolCompare)
    // DuckDB INTERVAL→VARCHAR wording + DATE−DATE = BIGINT days
    ext.injectResolutionRule(_ => DuckIntervalForms)
    // UBIGINT counters wrap under negation in DuckDB; the engine
    // refuses loudly instead of silently answering -n
    ext.injectResolutionRule(_ => UnsignedWrapGuard)
    // per-statement fixed cost: a constant statement becomes rows the
    // driver holds (no Spark job), and statements that differ only in a
    // filter constant share one compiled class
    ext.injectPlannerStrategy(_ => FoldConstantSelect)
    ext.injectColumnar(_ => new org.apache.spark.sql.execution.ColumnarRule {
      override def preColumnarTransitions: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.execution.SparkPlan] = graft.engine.expressions.ParamLiterals
    })
  }
}

/** `SELECT 1 AS a` — a Project of constants over OneRowRelation — is
  * planned as LocalTableScanExec: its row is collected and Arrow-encoded
  * on the driver, with no Spark job. ConstantFolding has run by then, so
  * `SELECT 1 + 1 AS a` plans so too; an expression ConstantFolding leaves
  * alone (one that would raise) is no Literal and keeps its error. A
  * planner strategy, not an optimizer rule: the optimized plan stays a
  * Project, which Spark's parameter binding
  * (`SparkSession.resolveAndValidateParameters`) casts its optimized
  * argument list to.
  */
object FoldConstantSelect extends org.apache.spark.sql.execution.SparkStrategy {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.{OneRowRelation, Project}
  import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ Project(items, OneRowRelation()) =>
      val values = items.collect { case Alias(l: Literal, _) => l.value }
      if (values.length < items.length) Nil
      else LocalTableScanExec(p.output, Seq(InternalRow.fromSeq(values)), None) :: Nil
    case _ => Nil
  }
}

/** DuckDB 1.0's unsigned counters WRAP under unary negation:
  * `-json_array_length('[1,2]')` is 18446744073709551614 (UBIGINT,
  * 2^64 − 2). The engine carries these counts as signed BIGINT and has
  * no modular unsigned arithmetic, so negating one would silently
  * answer −n — the divergence the round-8 fuzzer documented as a
  * residual. Refusing with a TYPED error beats the silence: the client
  * either wants DuckDB's wrap (not expressible here, and almost
  * certainly a bug in their query) or the arithmetic −n, which both
  * engines agree on after an explicit CAST:
  * `-CAST(json_array_length(x) AS BIGINT)` = −n in BOTH.
  * (Underflowing SUBTRACTION needs no guard: DuckDB itself errors
  * out-of-range there, so that path is already loud on the oracle.)
  */
object UnsignedWrapGuard
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Cast, UnaryMinus}
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

  /** The kernels whose DuckDB peer is UBIGINT-typed. Casts are NOT
    * looked through: an explicit CAST is exactly the client saying
    * "signed arithmetic, please".
    */
  private def unsignedCount(e: Expression): Boolean = e match {
    case si: StaticInvoke =>
      si.staticObject == graft.engine.expressions.JsonIntrospect.getClass &&
        (si.functionName == "arrayLength" ||
          si.functionName == "arrayLengthPath")
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    plan.transformAllExpressions {
      case um @ UnaryMinus(child, _) if unsignedCount(child) =>
        throw new GatewayException(
          "json_array_length is UBIGINT in DuckDB and WRAPS under " +
            "negation (2^64 - n); this engine carries it as BIGINT and " +
            "refuses the silent divergence. CAST(json_array_length(...) " +
            "AS BIGINT) first - both engines then agree on -n.")
    }
    plan
  }
}

/** Interval-adjacent divergences the fuzzer surfaced, DuckDB 1.0
  * pinned:
  *  - `DATE − DATE` is BIGINT days in DuckDB; Spark makes an INTERVAL;
  *  - `CAST(interval AS VARCHAR)` renders '1 year 2 months 3 days
  *    04:05:06' wording (expressions.IntervalText), not Spark's ANSI
  *    `INTERVAL '90' MINUTE` form. Spark's day-time interval carries
  *    one total-microseconds field, so the renderer splits whole days
  *    out — matching DuckDB's timestamp-subtraction output ('1 day
  *    11:30:00'), while an hour-constructed `INTERVAL 36 HOUR` (which
  *    DuckDB keeps as '36:00:00') renders as the equal-valued
  *    '1 day 12:00:00' — the one documented representational edge.
  */
object DuckIntervalForms
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Cast, DateDiff, SubtractDates}
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.types._

  import org.apache.spark.sql.catalyst.expressions.{
    DateAddInterval, DateAddYMInterval, TimestampAddInterval, TimestampAddYMInterval}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case sd: SubtractDates =>
        Cast(DateDiff(sd.left, sd.right), LongType)
      // DATE + INTERVAL is TIMESTAMP in DuckDB (even for pure-month
      // intervals — '2024-01-31' + 1 month = '2024-02-29 00:00:00');
      // Spark keeps DATE for these two adders. Rewritten to the
      // timestamp-domain adders (NOT a Cast wrapper, which would
      // re-match its own child forever under the fixpoint).
      case da: DateAddInterval =>
        TimestampAddInterval(Cast(da.start, TimestampNTZType), da.interval)
      case ym: DateAddYMInterval =>
        TimestampAddYMInterval(Cast(ym.date, TimestampNTZType), ym.interval)
      case Cast(child, _: StringType, _, _) if child.resolved &&
          // a SubtractDates child is about to become BIGINT days (the
          // arm above) — top-down transform order would otherwise bind
          // the renderer to the pre-rewrite interval type
          !child.isInstanceOf[SubtractDates] &&
          (child.dataType == CalendarIntervalType ||
            child.dataType.isInstanceOf[DayTimeIntervalType] ||
            child.dataType.isInstanceOf[YearMonthIntervalType]) =>
        val method = child.dataType match {
          case CalendarIntervalType => "fromCalendar"
          case _: DayTimeIntervalType => "fromDayTime"
          case _ => "fromYearMonth"
        }
        StaticInvoke(graft.engine.expressions.IntervalText.getClass,
          StringType, method, Seq(child), Seq(child.dataType))
    }
}

/** DuckDB's BOOLEAN coercions that Spark refuses (all fuzz-found by
  * tools/fuzz_scalar.py, each pinned against DuckDB 1.0):
  *
  *  - comparisons with numerics (`true > 0`): bool casts to INTEGER —
  *    comparisons ONLY, DuckDB rejects boolean ARITHMETIC too;
  *  - comparisons with a string EXPRESSION (`upper(s) <> flag`): the
  *    bool side casts to VARCHAR. A string LITERAL keeps Spark's
  *    behavior (literal casts toward BOOL, malformed errors) — DuckDB
  *    treats untyped string literals the same way, so the two agree
  *    there and only the typed-expression case needs the rewrite;
  *  - CASE/IF branches mixing BOOLEAN and numeric values (`CASE …
  *    THEN false ELSE -9`): bool branches cast to INTEGER.
  */
object DuckBoolCompare
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{
    BinaryComparison, CaseWhen, Cast, Expression, If, Literal}
  import org.apache.spark.sql.types.{
    BooleanType, IntegerType, NumericType, StringType}

  private def numFix(e: Expression, other: Expression): Option[Expression] =
    if (e.resolved && other.resolved && e.dataType == BooleanType &&
      other.dataType.isInstanceOf[NumericType]) Some(Cast(e, IntegerType))
    else None

  /** Coercion-inserted Cast(stringEXPR → BOOL) opposite a genuine
    * boolean: unwind it and pull the boolean to VARCHAR instead.
    */
  private def strCastSide(e: Expression): Option[Expression] = e match {
    case Cast(child, BooleanType, _, _) if child.resolved &&
        child.dataType.isInstanceOf[StringType] &&
        !child.isInstanceOf[Literal] => Some(child)
    case _ => None
  }

  private def boolSide(e: Expression): Boolean =
    e.resolved && e.dataType == BooleanType && strCastSide(e).isEmpty

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case c: BinaryComparison
          if numFix(c.left, c.right).isDefined ||
            numFix(c.right, c.left).isDefined =>
        val l = numFix(c.left, c.right).getOrElse(c.left)
        val r = numFix(c.right, c.left).getOrElse(c.right)
        c.withNewChildren(Seq(l, r)).asInstanceOf[Expression]
      case c: BinaryComparison
          if strCastSide(c.left).isDefined && boolSide(c.right) =>
        c.withNewChildren(Seq(strCastSide(c.left).get,
          Cast(c.right, StringType))).asInstanceOf[Expression]
      case c: BinaryComparison
          if strCastSide(c.right).isDefined && boolSide(c.left) =>
        c.withNewChildren(Seq(Cast(c.left, StringType),
          strCastSide(c.right).get)).asInstanceOf[Expression]
      case cw @ CaseWhen(branches, elseValue) if {
        val vals = branches.map(_._2) ++ elseValue.toSeq
        vals.forall(_.resolved) &&
          vals.exists(_.dataType == BooleanType) &&
          vals.exists(_.dataType.isInstanceOf[NumericType])
      } =>
        def up(e: Expression) =
          if (e.dataType == BooleanType) Cast(e, IntegerType) else e
        CaseWhen(branches.map { case (w, v) => (w, up(v)) },
          elseValue.map(up))
      case If(p, t, f) if p.resolved && t.resolved && f.resolved &&
          Seq(t, f).exists(_.dataType == BooleanType) &&
          Seq(t, f).exists(_.dataType.isInstanceOf[NumericType]) =>
        def up(e: Expression) =
          if (e.dataType == BooleanType) Cast(e, IntegerType) else e
        If(p, up(t), up(f))
    }
}

/** DuckDB's polymorphic unnest: `unnest(struct)` expands the struct into
  * one column per field (= inline(array(s))), and `unnest(x,
  * recursive := true)` — arriving as Explode(RecMarker(x)) — flattens
  * one list level or inlines a list of structs, by x's resolved type.
  * The marker is unresolved by construction, so the analyzer cannot
  * finalize the Generate's output schema before this rule picks the
  * generator (an output-arity mismatch otherwise).
  */
object DuckUnnest
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
  import org.apache.spark.sql.catalyst.expressions.{
    Alias, CreateArray, Explode, Expression, Flatten, Inline}
  import org.apache.spark.sql.types.{ArrayType, StructType}
  import graft.engine.expressions.RecMarker

  /** The generator a DuckDB-unnest shape should become, by element
    * type. Matches both the still-unresolved `'unnest'(recmarker(x))`
    * call (the registry cannot resolve it while the marker is
    * unresolved — deliberate, it keeps the output schema open) and the
    * already-resolved-but-type-invalid `Explode(struct)`.
    */
  private def asGenerator(e: Expression): Option[Expression] = e match {
    case uf: UnresolvedFunction
        if uf.nameParts.lastOption.exists(_.equalsIgnoreCase("unnest")) &&
          uf.arguments.sizeIs == 1 =>
      uf.arguments.head match {
        case RecMarker(c) if c.resolved => Some(c.dataType match {
          case ArrayType(_: ArrayType, _) => Explode(Flatten(c))
          case ArrayType(_: StructType, _) => Inline(c)
          case _: StructType => Inline(CreateArray(Seq(c)))
          case _ => Explode(c)
        })
        case c if c.resolved && c.dataType.isInstanceOf[StructType] =>
          Some(Inline(CreateArray(Seq(c))))
        case _ => None
      }
    case Explode(RecMarker(c)) if c.resolved => Some(c.dataType match {
      case ArrayType(_: ArrayType, _) => Explode(Flatten(c))
      case ArrayType(_: StructType, _) => Inline(c)
      case _: StructType => Inline(CreateArray(Seq(c)))
      case _ => Explode(c)
    })
    case Explode(c) if c.resolved && c.dataType.isInstanceOf[StructType] =>
      Some(Inline(CreateArray(Seq(c))))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      // DuckDB IGNORES a user alias on a struct unnest (the output
      // columns take the field names) — so must the rewrite, or the
      // single alias trips the multi-column UDTF arity check
      case al @ Alias(child, _)
          if asGenerator(child).exists(_.isInstanceOf[Inline]) =>
        // UnresolvedAlias lets the analyzer multi-name the generator's
        // output (a bare Inline is not a NamedExpression)
        org.apache.spark.sql.catalyst.analysis.UnresolvedAlias(
          asGenerator(child).get)
      case e if asGenerator(e).isDefined => asGenerator(e).get
    }
}

/** `CAST(blob AS VARCHAR)` — DuckDB renders the escaped form
  * (printable ASCII literal, everything else `\xHH`; see
  * expressions.BlobText), where Spark's native cast reinterprets the
  * bytes as a UTF-8 string. The guard matches binary children only, and
  * the replacement is a StaticInvoke (not a Cast), so the rule cannot
  * re-trigger on its own output.
  */
object BlobVarcharCast
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
  import org.apache.spark.sql.types.{BinaryType, StringType}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case Cast(child, _: StringType, _, _) if child.resolved &&
          child.dataType == BinaryType =>
        StaticInvoke(graft.engine.expressions.BlobText.getClass,
          StringType, "escape", Seq(child), Seq(BinaryType))
    }
}

/** DuckDB returns NULL for any division/modulo with a zero divisor
  * (`1/0`, `1//0`, `1%0` — all NULL in DuckDB 1.0); Spark's ANSI mode
  * (our default, matching DuckDB's strict casts/overflow) raises
  * DIVIDE_BY_ZERO instead. Demote exactly the division operators to TRY
  * eval mode, keeping ANSI behavior everywhere else. (TRY also nulls
  * decimal-division overflow, where DuckDB would error — an accepted
  * corner: DECIMAL(38) quotient overflow has no in-range answer either
  * way.) Idempotent, so safe under the analyzer's fixpoint.
  */
object DuckDivisionByZero
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{
    Divide, EvalMode, IntegralDivide, Remainder}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case d: Divide if d.evalMode == EvalMode.ANSI =>
        Divide(d.left, d.right, EvalMode.TRY)
      // IntegralDivide ignores TRY at runtime (still raises
      // DIVIDE_BY_ZERO — there is no try_ form of `div`); LEGACY is the
      // mode whose zero-divisor answer is NULL
      case d: IntegralDivide if d.evalMode == EvalMode.ANSI =>
        IntegralDivide(d.left, d.right, EvalMode.LEGACY)
      case r: Remainder if r.evalMode == EvalMode.ANSI =>
        Remainder(r.left, r.right, EvalMode.TRY)
    }
}

/** Resolution rule serving `CAST(timestamp AS TIME)` — DuckDB's
  * time-of-day projection, which Spark's Cast does not cover: rewritten
  * to to_time(date_format(ts, µs pattern)), with a TIME(6)→TIME(p)
  * precision cast on top when the target precision differs. The guard
  * matches timestamp children only, so the emitted TIME-typed cast
  * cannot re-trigger the rule.
  */
object TimestampToTimeCast
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
  import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
  import org.apache.spark.sql.types.{TimeType, TimestampType, TimestampNTZType}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case c @ Cast(child, t: TimeType, _, _) if child.resolved &&
          (child.dataType == TimestampType || child.dataType == TimestampNTZType) =>
        val asTime = UnresolvedFunction(Seq("to_time"),
          Seq(UnresolvedFunction(Seq("date_format"),
            Seq(child, Literal("HH:mm:ss.SSSSSS")), isDistinct = false)),
          isDistinct = false)
        if (t.precision == TimeType.MICROS_PRECISION) asTime
        else Cast(asTime, t, c.timeZoneId, c.evalMode)
    }
}

/** Read-only enforcement at the layer ALL SQL passes through (the
  * session parser), not just Gateway.sql: Thrift/JDBC client statements
  * go straight to `session.sql`, so a gateway-level check alone would
  * let any network client run INSERT OVERWRITE DIRECTORY / CREATE TABLE
  * (the reference serves its database access_mode=read_only,
  * /root/reference/main.go:61 — D8 of SURVEY §2.12).
  *
  * Classification is on the PARSED PLAN, not statement text: any
  * non-command plan is a query (allowed); commands are allowed only from
  * an explicit list (session/view/metadata commands, matching
  * Gateway.readOnlyAllowed). Gated per-session by the
  * `spark.graft.readOnly` conf, which Serve sets and clients cannot
  * unset (SET of the flag itself is rejected).
  */
object ReadOnlyGuard {
  val confKey = "spark.graft.readOnly"

  /** Conf namespaces a read-only client may not SET/RESET:
    * spark.graft.* are the enforcement flags themselves (readOnly, the
    * ATTACH allowlist), and spark.sql.catalog.* is what ATTACH binds —
    * a client SET of spark.sql.catalog.x=graft.sources.FlightCatalog
    * would bypass the Gateway's operator gate and point the server's
    * gRPC client at an arbitrary host:port (SSRF).
    */
  private val protectedConfPrefixes = Seq("spark.graft.", "spark.sql.catalog.")
  private def isProtected(key: String): Boolean = {
    val k = key.toLowerCase
    protectedConfPrefixes.exists(p => k.startsWith(p.toLowerCase))
  }

  private val allowedCommandPrefixes = Seq(
    "SetCommand", "ResetCommand", "Show", "Describe", "Explain",
    "CreateView", "DropView", "SetNamespace", "SetCatalog",
    "CreateVariable", "DropVariable", "SetVariable")

  /** DML writes parse to plain query-shaped plans, NOT Command /
    * ParsedStatement (InsertIntoDir is a bare UnaryNode; UPDATE/DELETE/
    * MERGE are v2 relation plans) — deny these by node type explicitly.
    */
  private val deniedPlanPrefixes = Seq(
    "InsertInto", "UpdateTable", "DeleteFrom", "MergeInto",
    "LoadData", "Truncate", "ReplaceData", "WriteDelta")

  /** Whether the given session (the one this parser instance was built
    * for) is read-only. Reads the session's own conf — NOT the
    * thread-local SQLConf.get, which tracks the ambient "active" session
    * and can point at a sibling session of the same context.
    */
  def active(session: Option[org.apache.spark.sql.SparkSession]): Boolean =
    session.exists { s =>
      try s.conf.get(confKey, "false").equalsIgnoreCase("true")
      catch { case _: Throwable => false }
    }

  /** The statement under any leading WITH clauses: a CTE list makes
    * `UnresolvedWith` the root, over a query or a write. */
  @annotation.tailrec
  private def statement(plan: LogicalPlan): LogicalPlan = plan match {
    case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
      statement(w.child)
    case p => p
  }

  def enforce(parsed: LogicalPlan): Unit = {
    val plan = statement(parsed)
    plan match {
      case s: org.apache.spark.sql.execution.command.SetCommand =>
        s.kv.foreach { case (k, _) =>
          if (isProtected(k))
            throw new GatewayException(
              s"read-only session: cannot modify $k")
        }
      // RESET (all) or RESET of a protected key would unset the
      // enforcement flags and disarm this guard for the rest of the
      // session — reject both; RESET of any other key stays allowed.
      case r: org.apache.spark.sql.execution.command.ResetCommand =>
        if (r.config.forall(isProtected))
          throw new GatewayException(
            "read-only session: cannot reset enforcement configuration")
      case _ =>
    }
    val n = plan.getClass.getSimpleName.stripSuffix("$")
    if (deniedPlanPrefixes.exists(n.startsWith))
      throw new GatewayException(
        s"read-only session: statement rejected ($n)")
    val isCommand = plan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.Command] ||
      plan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.ParsedStatement]
    if (isCommand && !allowedCommandPrefixes.exists(n.startsWith))
      throw new GatewayException(
        s"read-only session: statement rejected ($n)")
  }
}

/** Delegating parser that applies Dialect.rewrite to whole statements.
  * Identifier/expression/type fragments pass through untouched — the
  * dialect shims are statement-level constructs. Also the read-only
  * enforcement point (ReadOnlyGuard): every statement from every entry
  * path — spark.sql, Gateway, Thrift/JDBC, EXECUTE IMMEDIATE — parses
  * here. Every method that takes statement text is overridden (pinned by
  * GatewaySpec): a default method of ParserInterface would reach the
  * delegate without the rewrite or the guard.
  */
class GraftSqlParser(
    delegate: ParserInterface,
    session: Option[org.apache.spark.sql.SparkSession] = None)
  extends ParserInterface {
  import org.apache.spark.sql.catalyst.parser.{
    HybridParameterContext, NamedParameterContext, ParameterContext, PositionalParameterContext}

  // rawifyLiterals LAST and exactly once (it is not idempotent):
  // restores DuckDB's raw-literal semantics against Spark's lexer
  private def toSpark(sqlText: String): String =
    Dialect.rawifyLiterals(Dialect.rewrite(sqlText))
  private def guarded(plan: LogicalPlan): LogicalPlan = {
    if (ReadOnlyGuard.active(session)) ReadOnlyGuard.enforce(plan)
    plan
  }
  override def parsePlan(sqlText: String): LogicalPlan =
    guarded(delegate.parsePlan(toSpark(sqlText)))
  /** `spark.sql(text, args)` and EXECUTE IMMEDIATE … USING: the delegate
    * binds the values. `spark.sql(text)` arrives here too, with no
    * values: it parses as parsePlan does, without Spark's marker scan.
    */
  override def parsePlanWithParameters(
      sqlText: String, context: ParameterContext): LogicalPlan = {
    val bound = context match {
      case NamedParameterContext(params) => params.nonEmpty
      case PositionalParameterContext(params) => params.nonEmpty
      case HybridParameterContext(args, _) => args.nonEmpty
      case _ => true
    }
    guarded(
      if (bound) delegate.parsePlanWithParameters(toSpark(sqlText), context)
      else delegate.parsePlan(toSpark(sqlText)))
  }
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(toSpark(sqlText))
  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType =
    delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

object GraftSqlParser {

  /** `session.sql(sqlText)` through the dialect parser, also on a session
    * built without GraftExtensions (Verify's and Bench's sessions).
    */
  def sql(session: org.apache.spark.sql.SparkSession,
      sqlText: String): org.apache.spark.sql.DataFrame =
    session.sessionState.sqlParser match {
      case _: GraftSqlParser => session.sql(sqlText)
      case plain => org.apache.spark.sql.GraftPlans.ofRows(
        session, new GraftSqlParser(plain).parsePlan(sqlText))
    }
}

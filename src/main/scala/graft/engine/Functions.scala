package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke

/** DuckDB-dialect function shims registered into Spark's
  * FunctionRegistry (SURVEY.md §2.11) so DuckDB-named SQL runs on the
  * gateway unchanged. Each shim rewrites to resolved Spark built-ins at
  * analysis time — zero runtime overhead, full codegen (no UDFs).
  */
object Functions {

  /** Unresolved call to a Spark builtin; the analyzer resolves it on the
    * next iteration.
    */
  private def call(name: String, args: Seq[Expression]): Expression =
    UnresolvedFunction(Seq(name), args, isDistinct = false)

  private def lam(build: Seq[Expression] => Expression, arity: Int): LambdaFunction = {
    val vars = (0 until arity).map(i => UnresolvedNamedLambdaVariable(Seq(s"v$i")))
    LambdaFunction(build(vars), vars)
  }

  /** Discrete quantile with DuckDB's element-typed result: the value IS
    * a member of the input, so the double→element cast is exact. List-q
    * forms cast element-wise.
    */
  private def discreteQuantile(x: Expression, q: Expression): Expression = {
    val pdFn = org.apache.spark.sql.catalyst.expressions.aggregate
      .PercentileDisc(x, q, reverse = false)
    if (!x.resolved ||
      !x.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]) pdFn
    else {
      // a Cast above the aggregate hides it from the registry's
      // auto-wrapping — wrap in AggregateExpression explicitly
      val pd = pdFn.toAggregateExpression()
      val isList = q match {
        case uf: UnresolvedFunction =>
          uf.nameParts.lastOption.exists(_.equalsIgnoreCase("array"))
        case _: CreateArray => true
        case other => other.resolved &&
          other.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]
      }
      if (isList)
        Cast(pd, org.apache.spark.sql.types.ArrayType(x.dataType))
      else Cast(pd, x.dataType)
    }
  }

  /** strftime with the C-library specifiers Spark's proleptic
    * date_format REFUSES as patterns (the week-based family) computed
    * as expressions, everything else as date_format runs. C semantics
    * verified against DuckDB 1.0 (probe batch 14):
    *  %W/%U = weeks since Jan 1 counting from the first Monday/Sunday
    *  (zero-padded 2), %u ISO weekday 1-7, %w weekday 0-6 Sunday=0,
    *  %V ISO week, %G ISO year (year of the week's Thursday), and the
    *  `%-X` no-pad variants.
    */
  private def strftimeExpr(ts: Expression, fmt: String): Expression = {
    import org.apache.spark.sql.types.{DateType, LongType, StringType}
    val segs = scala.collection.mutable.ArrayBuffer[Expression]()
    val run = new StringBuilder
    def flushRun(): Unit = if (run.nonEmpty) {
      segs += call("date_format",
        Seq(ts, Literal(Dialect.strftimeToJava(run.toString))))
      run.clear()
    }
    def str(e: Expression) = Cast(e, StringType)
    def pad2(e: Expression) =
      call("lpad", Seq(Cast(e, StringType), Literal(2), Literal("0")))
    def weekday = WeekDay(ts) // Monday = 0 (Spark kernel, NOT the dialect name)
    def sunday0 = Subtract(DayOfWeek(ts), Literal(1))
    def yday0 = Subtract(call("dayofyear", Seq(ts)), Literal(1))
    def cweek(firstDow: Expression) = pad2(Cast(call("floor", Seq(Divide(
      Cast(Subtract(Add(yday0, Literal(7)), firstDow),
        org.apache.spark.sql.types.DoubleType), Literal(7.0)))), LongType))
    def computed(code: String): Option[Expression] = code match {
      case "W" => Some(cweek(weekday))
      case "U" => Some(cweek(sunday0))
      case "u" => Some(str(Add(weekday, Literal(1))))
      case "w" => Some(str(sunday0))
      case "V" => Some(pad2(call("weekofyear", Seq(ts))))
      case "G" => Some(str(call("year", Seq(call("date_add",
        Seq(Cast(ts, DateType), Subtract(Literal(3), weekday)))))))
      case "-d" => Some(str(call("day", Seq(ts))))
      case "-m" => Some(str(call("month", Seq(ts))))
      case "-H" => Some(str(call("hour", Seq(ts))))
      case "-M" => Some(str(call("minute", Seq(ts))))
      case "-S" => Some(str(Cast(call("second", Seq(ts)),
        org.apache.spark.sql.types.IntegerType)))
      case "-j" => Some(str(call("dayofyear", Seq(ts))))
      case _ => None
    }
    var i = 0
    while (i < fmt.length) {
      if (fmt.charAt(i) == '%' && i + 1 < fmt.length) {
        val (code, len) =
          if (fmt.charAt(i + 1) == '-' && i + 2 < fmt.length)
            ("-" + fmt.charAt(i + 2), 3)
          else (fmt.charAt(i + 1).toString, 2)
        computed(code) match {
          case Some(e) => flushRun(); segs += e
          case None => run.append(fmt.substring(i, i + len))
        }
        i += len
      } else { run.append(fmt.charAt(i)); i += 1 }
    }
    flushRun()
    if (segs.isEmpty) Literal("")
    else if (segs.size == 1) segs.head
    else Concat(segs.toSeq)
  }

  /** Matches an array-of-string-literals argument (`['a','b']`, which
    * the bracket rewrite hands over as `array('a','b')`).
    */
  private object NameList {
    def unapply(e: Expression): Option[Seq[String]] = e match {
      case uf: UnresolvedFunction
          if uf.nameParts.lastOption.exists(_.equalsIgnoreCase("array")) =>
        lits(uf.arguments)
      case CreateArray(args, _) => lits(args)
      case _ => None
    }
    private def lits(args: Seq[Expression]): Option[Seq[String]] =
      if (args.nonEmpty && args.forall {
        case Literal(s, org.apache.spark.sql.types.StringType) => s != null
        case _ => false
      }) Some(args.map { case Literal(s, _) => s.toString })
      else None
  }

  /** DuckDB's indexed lambdas are 1-BASED ((x, i) -> … sees i=1 for the
    * first element) where Spark's HOF index is 0-based: shift every
    * reference to the second lambda variable by +1 inside the body.
    * One-param lambdas pass through untouched. (Nested same-name
    * shadowing would double-shift — not expressible from the gateway's
    * single-level lambda syntax.)
    */
  private def oneBasedIdx(f: LambdaFunction): LambdaFunction =
    if (f.arguments.length < 2) f
    else {
      val idx = f.arguments(1)
      val shifted = f.function.transformUp {
        case v: UnresolvedNamedLambdaVariable
            if idx.isInstanceOf[UnresolvedNamedLambdaVariable] &&
              v.nameParts == idx.asInstanceOf[UnresolvedNamedLambdaVariable].nameParts =>
          Add(v, Literal(1))
      }
      LambdaFunction(shifted, f.arguments)
    }

  /** Vector-kernel input: cast to array<double> so DECIMAL-literal and
    * float lists resolve against the codegen expressions.
    */
  private def vec(e: Expression): Expression =
    Cast(e, org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))

  /** name → builder. */
  private val shims: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // ---- list_* → array/HOF builtins (SURVEY §2.8 array family).
    // Lambda-taking shims MUST return the resolved HigherOrderFunction
    // node: the analyzer rejects a LambdaFunction whose parent resolves
    // to another UnresolvedFunction.
    "list_transform" -> { case Seq(l, f: LambdaFunction) => ArrayTransform(l, oneBasedIdx(f)) },
    "list_apply" -> { case Seq(l, f: LambdaFunction) => ArrayTransform(l, oneBasedIdx(f)) },
    "array_apply" -> { case Seq(l, f: LambdaFunction) => ArrayTransform(l, oneBasedIdx(f)) },
    "apply" -> { case Seq(l, f: LambdaFunction) => ArrayTransform(l, oneBasedIdx(f)) },
    "array_transform" -> { case Seq(l, f: LambdaFunction) => ArrayTransform(l, oneBasedIdx(f)) },
    "array_filter" -> { case Seq(l, f: LambdaFunction) => ArrayFilter(l, oneBasedIdx(f)) },
    "array_reverse" -> (a => call("reverse", a)),
    // list_resize(l, n[, fill]): truncate or pad to exactly n elements
    // (fill defaults to NULL) — probe-pinned against DuckDB 1.0
    "list_resize" -> {
      case Seq(l, n) => listResize(l, n, Cast(Literal(null),
        org.apache.spark.sql.types.NullType))
      case Seq(l, n, fill) => listResize(l, n, fill)
    },
    "list_filter" -> { case Seq(l, f: LambdaFunction) => ArrayFilter(l, oneBasedIdx(f)) },
    // DuckDB list_sort takes string order flags ('ASC'/'DESC', then a
    // null-order flag); defaults are ASC + NULLS LAST (default_null_order).
    // Spark mapping: array_sort = asc nulls-last; sort_array(asc) = asc
    // nulls-FIRST, sort_array(desc) = desc nulls-LAST; desc nulls-first =
    // reverse of asc nulls-last.
    "list_sort" -> {
      case Seq(l) => call("array_sort", Seq(l))
      case Seq(l, Literal(flag, _)) if flag != null =>
        listSorted(l, flag.toString, "NULLS LAST")
      case Seq(l, Literal(flag, _), Literal(no, _)) if flag != null && no != null =>
        listSorted(l, flag.toString, no.toString)
    },
    "list_reverse_sort" -> (a =>
      call("reverse", Seq(call("array_sort", a)))),
    "list_distinct" -> (a => call("array_distinct", a)),
    "list_contains" -> (a => call("array_contains", a)),
    "list_has" -> (a => call("array_contains", a)),
    // DuckDB's list concat SKIPS NULL operands ([1] ++ NULL = [1]) but
    // answers NULL when EVERY operand is NULL (probe-19 pinned)
    "list_concat" -> (a => nullSkippingListConcat(a)),
    "list_cat" -> (a => nullSkippingListConcat(a)),
    // list_unique counts distinct NON-NULL elements (probe-19:
    // [1,1,2,NULL] → 2); BIGINT carrier for DuckDB's UBIGINT
    "list_unique" -> { case Seq(l) =>
      Cast(call("size", Seq(call("array_distinct",
        Seq(call("array_compact", Seq(l)))))),
        org.apache.spark.sql.types.LongType)
    },
    "list_slice" -> {
      case Seq(l, b, e) =>
        // DuckDB list_slice(l, begin, end) is 1-based stop-inclusive and
        // string-polymorphic (list_slice('hello',2,4)='ell') — SliceAny
        // dispatches on the resolved type at analysis
        graft.engine.expressions.SliceAny(l, b, e)
      case Seq(l, b, e, s) =>
        // stepped slice (also `l[a:b:s]` via the bracket rewrite):
        // bounds clamped to the list per step direction, then one
        // element_at per generated index; an empty range yields []
        // instead of sequence()'s start/stop/step error
        val sz = call("size", Seq(l))
        val fwd = GreaterThan(s, Literal(0))
        val lo = call("if", Seq(fwd,
          call("greatest", Seq(b, Literal(1))), call("least", Seq(b, sz))))
        val hi = call("if", Seq(fwd,
          call("least", Seq(e, sz)), call("greatest", Seq(e, Literal(1)))))
        val nonEmpty = Or(And(fwd, LessThanOrEqual(lo, hi)),
          And(LessThan(s, Literal(0)), GreaterThanOrEqual(lo, hi)))
        call("if", Seq(nonEmpty,
          call("transform", Seq(call("sequence", Seq(lo, hi, s)),
            lam(vs => call("element_at", Seq(l, vs(0))), 1))),
          call("slice", Seq(l, Literal(1), Literal(0)))))
    },
    // array_slice is DuckDB's documented alias of list_slice (same
    // 1-based stop-inclusive, string-polymorphic semantics)
    "array_slice" -> { case Seq(l, b, e) =>
      graft.engine.expressions.SliceAny(l, b, e) },
    // pop/push family (DuckDB array_* aliases over list ops)
    // string-polymorphic like the DuckDB macros (pop_back('abc')='ab'):
    // SliceAny/LenAny dispatch on the resolved type (r10 audit stage 3).
    // pop_back goes through reverse∘pop_front∘reverse because SliceAny
    // normalizes a 0 stop to 1 (DuckDB's own bracket rule), so the
    // len−1 stop cannot express "empty" on 1-element inputs
    "array_pop_back" -> { case Seq(l) =>
      call("reverse", Seq(graft.engine.expressions.SliceAny(
        call("reverse", Seq(l)), Literal(2),
        Cast(graft.engine.expressions.LenAny(l),
          org.apache.spark.sql.types.IntegerType))))
    },
    "array_pop_front" -> { case Seq(l) =>
      graft.engine.expressions.SliceAny(l, Literal(2),
        Cast(graft.engine.expressions.LenAny(l),
          org.apache.spark.sql.types.IntegerType))
    },
    "array_push_back" -> (a => call("array_append", a)),
    "array_push_front" -> { case Seq(l, x) => call("array_prepend", Seq(l, x)) },
    // map_extract(m, k) → a LIST of the value ([] when absent, DuckDB
    // 1.0 pinned); the empty branch slices map_values so no element_at
    // ever evaluates a missing key (ANSI mode would error). Uses the
    // catalyst ElementAt NODE directly — the element_at NAME now
    // resolves to this list form for maps too (r10 audit), and routing
    // through it here would nest the list
    "map_extract" -> { case Seq(m, k) => mapValueList(m, k) },
    "list_extract" -> (a => call("element_at", a)),
    "list_element" -> (a => call("element_at", a)),
    "array_to_string" -> (a => call("array_join", a)),
    "list_aggregate" -> { case Seq(l, Literal(fn, _)) =>
      listAggregate(l, fn.toString) },
    "list_aggr" -> { case Seq(l, Literal(fn, _)) =>
      listAggregate(l, fn.toString) },
    "array_aggregate" -> { case Seq(l, Literal(fn, _)) =>
      listAggregate(l, fn.toString) },
    "array_aggr" -> { case Seq(l, Literal(fn, _)) =>
      listAggregate(l, fn.toString) },
    "list_min" -> (a => call("array_min", a)),
    "list_max" -> (a => call("array_max", a)),
    // list_sum/list_avg sugar (DuckDB list_aggregate aliases); the sum
    // folds in DOUBLE so int and float lists both resolve
    "list_sum" -> { case Seq(l) =>
      ArrayAggregate(l, Literal(0.0d),
        lam(vs => Add(vs(0), Cast(vs(1),
          org.apache.spark.sql.types.DoubleType)), 2),
        lam(vs => vs(0), 1))
    },
    "list_avg" -> { case Seq(l) =>
      Divide(
        ArrayAggregate(l, Literal(0.0d),
          lam(vs => Add(vs(0), Cast(vs(1),
            org.apache.spark.sql.types.DoubleType)), 2),
          lam(vs => vs(0), 1)),
        Cast(call("size", Seq(l)), org.apache.spark.sql.types.DoubleType))
    },
    "list_has_any" -> (a => call("arrays_overlap", a)),
    "list_has_all" -> { case Seq(l, sub) =>
      // every element of sub present in l ⇔ sub minus l is empty
      EqualTo(call("size", Seq(call("array_except", Seq(sub, l)))), Literal(0))
    },
    "list_position" -> (a => call("array_position", a)),
    "list_indexof" -> (a => call("array_position", a)),
    "list_append" -> (a => call("array_append", a)),
    "list_prepend" -> { case Seq(e, l) => call("array_prepend", Seq(l, e)) },
    "list_reverse" -> (a => call("reverse", a)),
    // native codegen'd vector math (graft.engine.expressions.VectorMath);
    // inputs cast to array<double> so DECIMAL-literal lists resolve
    "array_cosine_similarity" -> { case Seq(x, y) =>
      graft.engine.expressions.CosineSimilarity(vec(x), vec(y))
    },
    "array_dot_product" -> { case Seq(x, y) =>
      graft.engine.expressions.DotProduct(vec(x), vec(y))
    },
    "array_inner_product" -> { case Seq(x, y) =>
      graft.engine.expressions.DotProduct(vec(x), vec(y))
    },
    "list_cosine_similarity" -> { case Seq(x, y) =>
      graft.engine.expressions.CosineSimilarity(vec(x), vec(y))
    },
    "list_dot_product" -> { case Seq(x, y) =>
      graft.engine.expressions.DotProduct(vec(x), vec(y))
    },
    "list_inner_product" -> { case Seq(x, y) =>
      graft.engine.expressions.DotProduct(vec(x), vec(y))
    },
    // list_distance: euclidean ‖a−b‖ via the same kernel inputs
    "list_distance" -> { case Seq(x, y) => listDistance(x, y) },
    // list_grade_up: 1-based positions that would sort the list —
    // sort (value, index) pairs by value, project the indices
    "list_grade_up" -> { case Seq(l) => gradeUp(l) },

    // ---- string family ----
    "string_split" -> (a => call("split", a)),
    "str_split" -> (a => call("split", a)),
    "string_to_array" -> (a => call("split", a)),
    "string_split_regex" -> (a => call("split", a)),
    "str_split_regex" -> (a => call("split", a)),
    "regexp_matches" -> {
      case Seq(s, re) => RLike(s, re)
      // options string: embed as inline regex flags ('c' = default
      // case-sensitive; 'l' = literal via \Q…\E quoting)
      case Seq(s, re, Literal(flags, _)) if flags != null =>
        val f = flags.toString
        val inline = Seq('i' -> "(?i)", 's' -> "(?s)", 'm' -> "(?m)",
          'n' -> "(?m)", 'p' -> "(?m)")
          .collect { case (c, p) if f.indexOf(c.toInt) >= 0 => p }
          .distinct.mkString
        val body = if (f.indexOf('l') >= 0)
          Concat(Seq(Literal("\\Q"), re, Literal("\\E"))) else re
        val re2 = if (inline.isEmpty) body else Concat(Seq(Literal(inline), body))
        RLike(s, re2)
    },
    "regexp_full_match" -> { case Seq(s, re) =>
      RLike(s, call("concat", Seq(Literal("^(?:"), re, Literal(")$"))))
    },
    "mismatches" -> (a => hammingExpr(a)),
    "hamming" -> (a => hammingExpr(a)),
    "jaccard" -> { case Seq(x, y) =>
      // DuckDB: char-set jaccard
      def cs(e: Expression) = call("array_distinct",
        Seq(call("split", Seq(e, Literal("")))))
      Divide(
        Cast(call("size", Seq(call("array_intersect", Seq(cs(x), cs(y))))),
          org.apache.spark.sql.types.DoubleType),
        Cast(call("size", Seq(call("array_union", Seq(cs(x), cs(y))))),
          org.apache.spark.sql.types.DoubleType))
    },
    "editdist3" -> (a => call("levenshtein", a)),
    "jaro_similarity" -> { case Seq(x, y) =>
      graft.engine.expressions.JaroSimilarity(x, y)
    },
    "jaro_winkler_similarity" -> { case Seq(x, y) =>
      graft.engine.expressions.JaroWinklerSimilarity(x, y)
    },
    "sha256" -> { case Seq(e) => call("sha2", Seq(e, Literal(256))) },
    "to_base64" -> (a => call("base64", a)),
    "from_base64" -> (a => call("unbase64", a)),
    "prefix" -> { case Seq(s, p) => call("startswith", Seq(s, p)) },
    "suffix" -> { case Seq(s, p) => call("endswith", Seq(s, p)) },
    "strip_accents" -> { case Seq(e) =>
      // minimal latin fold (full ICU out of scope)
      call("translate", Seq(e, Literal("áàâäãåéèêëíìîïóòôöõúùûüñçý"),
        Literal("aaaaaaeeeeiiiiooooouuuuncy")))
    },
    // RE2 QuoteMeta: backslash-escape every non-word character
    // (probe-19: 'a-b[c]' → 'a\-b\[c\]')
    "regexp_escape" -> { case Seq(s) =>
      // NATIVE RegExpReplace (global, Java replacement syntax) — going
      // through the dialect's regexp_replace shim would re-interpret
      // the replacement under DuckDB's \N backref rules
      RegExpReplace(s, Literal("([^a-zA-Z0-9_])"), Literal("\\\\$1"))
    },
    "ucase" -> (a => call("upper", a)),
    "lcase" -> (a => call("lower", a)),
    "strpos" -> (a => call("instr", a)),
    "to_hex" -> { case Seq(e) => call("upper", Seq(call("hex", Seq(e)))) },
    "from_hex" -> (a => call("unhex", a)),

    // ---- JSON (DuckDB json extension names) ----
    "json_extract_string" -> { case Seq(j, p) =>
      call("get_json_object", Seq(j, normalizeJsonPath(p)))
    },
    // json(x): canonical minified re-serialization (key order kept);
    // non-string values (lists, structs) serialize like DuckDB's
    // implicit cast-to-JSON (r10 audit stage 3)
    "json" -> {
      // only complex types route through to_json (its only accepted
      // inputs); scalars like json(3) keep the canon path via the
      // implicit string cast, as DuckDB returns the number itself
      case Seq(j) if j.resolved && (j.dataType match {
            case _: org.apache.spark.sql.types.ArrayType |
                 _: org.apache.spark.sql.types.StructType |
                 _: org.apache.spark.sql.types.MapType => true
            case _ => false
          }) =>
        call("to_json", Seq(j))
      case Seq(j) =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          org.apache.spark.sql.types.StringType, "canon", Seq(j),
          Seq(org.apache.spark.sql.types.StringType))
    },
    // x::JSON / [TRY_]CAST(x AS JSON), dialect-rewritten to this call:
    // a VARCHAR validates and keeps its ORIGINAL text (DuckDB's JSON
    // cast errors on malformed input and does NOT canonicalize — the
    // json() function does); non-string types serialize like json()
    "graft_json_cast" -> {
      case Seq(j) if j.resolved && (j.dataType match {
            case org.apache.spark.sql.types.StringType => false
            case _ => true
          }) =>
        call("json", Seq(j))
      case Seq(j) =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          org.apache.spark.sql.types.StringType, "validateJson", Seq(j),
          Seq(org.apache.spark.sql.types.StringType))
    },
    // json_quote: the value's JSON text form; json_array/json_object:
    // constructors built from per-element JSON forms (a Spark array
    // literal would coerce mixed types first — probe-19)
    "json_quote" -> { case Seq(x) => jsonVal(x) },
    "json_array" -> { case args =>
      Concat(Seq(Literal("["),
        call("concat_ws",
          Literal(",") +: args.map(a => Coalesce(Seq(jsonVal(a),
            Literal("null"))))),
        Literal("]")))
    },
    "json_object" -> { case args if args.length % 2 == 0 =>
      val pairs = args.grouped(2).map { case Seq(k, v) =>
        Concat(Seq(jsonVal(k), Literal(":"),
          Coalesce(Seq(jsonVal(v), Literal("null")))))
      }.toSeq
      Concat(Seq(Literal("{"),
        call("concat_ws", Literal(",") +: pairs), Literal("}")))
    },
    // json_group_array/object: DuckDB macros over list()/map aggregation
    "json_group_array" -> { case Seq(x) =>
      call("to_json", Seq(call("collect_list", Seq(x))))
    },
    "json_group_object" -> { case Seq(k, v) =>
      call("to_json", Seq(call("map_from_entries",
        Seq(call("collect_list", Seq(call("struct", Seq(k, v))))))))
    },
    // json_extract carries the JSON TEXT form (quoted scalars,
    // structural nodes) — DuckDB's JSON type, not get_json_object's
    // unquoted scalars (fuzz-found; kernel in JsonIntrospect)
    "json_extract" -> { case Seq(j, p) =>
      StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
        org.apache.spark.sql.types.StringType, "extractJson",
        Seq(j, normalizeJsonPath(p)),
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
    },
    "json_valid" -> { case Seq(j) =>
      IsNotNull(call("try_parse_json", Seq(j)))
    },

    // ---- date/time ----
    "epoch" -> { case Seq(ts) =>
      Divide(Cast(call("unix_micros", Seq(Cast(ts,
        org.apache.spark.sql.types.TimestampType))),
        org.apache.spark.sql.types.DoubleType), Literal(1e6))
    },
    "epoch_ms" -> { case Seq(ts) =>
      call("unix_millis", Seq(Cast(ts, org.apache.spark.sql.types.TimestampType)))
    },
    "epoch_us" -> { case Seq(ts) =>
      call("unix_micros", Seq(Cast(ts, org.apache.spark.sql.types.TimestampType)))
    },
    "strftime" -> { case Seq(ts, Literal(fmt, _)) =>
      strftimeExpr(ts, fmt.toString)
    },
    // strptime defaults ABSENT fields to 1900-01-01 (C strptime's
    // struct tm epoch) — strptime('05/03','%d/%m') is 1900-03-05, where
    // the earlier to_timestamp_ntz path landed on the JDK's 1970
    // (round-10 audit find)
    "strptime" -> {
      case Seq(s, Literal(fmt, _)) => strptime1900(s, fmt.toString)
      // format LIST: first format that parses wins; if NONE parse,
      // error like DuckDB does — via an explicit raise_error, NOT the
      // session's ANSI flag (a non-ANSI session would silently NULL)
      case Seq(s, NameList(fmts)) if fmts.nonEmpty =>
        val ntz = org.apache.spark.sql.types.TimestampNTZType
        val parsed = Coalesce(fmts.map(f => TryEval(strptime1900(s, f))))
        If(Or(IsNull(s), IsNotNull(parsed)), parsed,
          Cast(call("raise_error", Seq(call("concat", Seq(
            Literal("strptime: could not parse '"), s,
            Literal("' with any of the given formats"))))), ntz))
    },
    "isodow" -> { case Seq(d) => Add(WeekDay(d), Literal(1)) },
    "week" -> (a => call("weekofyear", a)),
    "yearweek" -> { case Seq(d) =>
      // ISO year (DuckDB semantics), not calendar year: the year of the
      // Thursday in d's ISO week — differs near year boundaries
      // (2024-12-30 is 202501, 2027-01-01 is 202653)
      val isoDow = Add(WeekDay(d), Literal(1))
      val thursday = call("date_add", Seq(d, Subtract(Literal(4), isoDow)))
      Add(Multiply(call("year", Seq(thursday)), Literal(100)),
        call("weekofyear", Seq(d)))
    },
    "time_bucket" -> { case Seq(width, ts) =>
      // DuckDB arg order (width, ts). Buckets align to DuckDB's origin
      // 2000-01-03 00:00:00 (a Monday) — NOT epoch 0 (a Thursday):
      // weekly/multi-day widths diverge otherwise. 946857600000000 µs.
      val origin = Literal(946857600000000L)
      val us = Subtract(
        call("unix_micros", Seq(Cast(ts,
          org.apache.spark.sql.types.TimestampType))), origin)
      val bucket = call("timestamp_micros", Seq(Add(
        Multiply(
          Cast(call("floor", Seq(Divide(
            Cast(us, org.apache.spark.sql.types.DoubleType),
            Cast(intervalMicros(width), org.apache.spark.sql.types.DoubleType)))),
            org.apache.spark.sql.types.LongType),
          intervalMicros(width)),
        origin)))
      // type-preserving on DATE input (DuckDB returns DATE, r10 audit)
      if (ts.resolved && ts.dataType == org.apache.spark.sql.types.DateType)
        Cast(bucket, org.apache.spark.sql.types.DateType)
      else bucket
    },
    // DuckDB date_diff counts PART-BOUNDARY CROSSINGS, not complete
    // elapsed units: truncate both sides to the part first, then count
    // (date_diff('day', 23:00, next 01:00) = 1, not 0)
    "date_diff" -> { case Seq(Literal(part, _), a, b) =>
      boundaryDiff(part.toString, a, b)
    },
    "date_sub_part" -> (a => call("timestampdiff", a)),

    // ---- misc ----
    "list_value" -> (a => call("array", a)),
    // struct_insert(s, 'k', v, …): existing fields kept, named fields
    // added/overwritten (the `k := v` surface syntax is normalized to
    // quoted names by Dialect.rewriteNamedArgCalls)
    "struct_insert" -> { case s +: rest =>
      require(rest.length % 2 == 0 && rest.nonEmpty,
        "struct_insert expects (struct, 'name', value, ...)")
      UpdateFields(s, rest.grouped(2).map {
        case Seq(Literal(name, _), v) => WithField(name.toString, v)
        case other => throw new IllegalArgumentException(
          s"struct_insert: field name must be a string literal, got $other")
      }.toSeq)
    },

    // ---- round-5 gap-probe batch (each found by running DuckDB
    // idioms through the gateway and fixing what failed) ----
    // strlen is BYTE length in DuckDB (strlen('🤦') = 4, probe-20) —
    // length() counts characters; both answer BIGINT
    "strlen" -> { case Seq(s) => graft.engine.expressions.LenAny(
      Cast(s, org.apache.spark.sql.types.BinaryType)) },
    // current_localtime/current_localtimestamp: session-zone now
    "current_localtime" -> (_ => Cast(call("localtimestamp", Nil),
      org.apache.spark.sql.types.TimeType())),
    "current_localtimestamp" -> (_ => call("localtimestamp", Nil)),
    // timezone_hour/minute of a NAIVE timestamp: the session renders in
    // UTC (Verify/Bench/Gateway pin spark.sql.session.timeZone=UTC), so
    // the offset components are constant 0, exactly DuckDB-on-UTC —
    // but NULL must still propagate (timezone_hour(NULL) IS NULL,
    // ADVICE r9; a bare Literal(0L) ignored the argument)
    "timezone_hour" -> { case Seq(t) =>
      If(IsNull(t), Cast(Literal(null), org.apache.spark.sql.types.LongType),
        Literal(0L)) },
    "timezone_minute" -> { case Seq(t) =>
      If(IsNull(t), Cast(Literal(null), org.apache.spark.sql.types.LongType),
        Literal(0L)) },
    // DuckDB 1.3 TRY(expr): NULL on runtime evaluation error (SURVEY
    // §5.3) — Spark's TryEval is the same contract under ANSI mode,
    // and it composes with the TRY_CAST surface already served
    "try" -> { case Seq(x) => TryEval(x) },
    // current_schemas has no Spark builtin; the other session scalars
    // shadow builtins (see overrides)
    "current_schemas" -> { case Seq(_) =>
      CreateArray(Seq(Literal("main"))) },
    // to_base(n, b): Spark conv() converts between bases (uppercase
    // digits, same as DuckDB)
    "to_base" -> { case Seq(n, b) =>
      call("conv", Seq(Cast(n, org.apache.spark.sql.types.StringType),
        Literal(10), b))
    },
    "ord" -> (a => call("ascii", a)),
    "unicode" -> (a => call("ascii", a)),
    // round-6 gap-probe batch 6
    "julian" -> { case Seq(d) =>
      // DuckDB's julian() pins MIDNIGHT to N.0 (half a day above the
      // astronomical JD, which puts midnight at N-0.5): julian(DATE
      // '2000-01-01') = 2451545.0, noon = +0.5 — so epoch-days + 2440588
      // plus the day fraction (probe batch 13 caught the 0.5 drift and
      // the dropped time-of-day). Session tz is UTC, matching DuckDB's
      // naive TIMESTAMP.
      Add(Divide(Cast(call("unix_micros",
        Seq(Cast(d, org.apache.spark.sql.types.TimestampType))),
        org.apache.spark.sql.types.DoubleType), Literal(8.64e10)),
        Literal(2440588.0))
    },
    "century" -> { case Seq(d) =>
      Cast(Ceil(Divide(Cast(call("year", Seq(d)),
        org.apache.spark.sql.types.DoubleType), Literal(100.0))),
        org.apache.spark.sql.types.LongType)
    },
    "decade" -> { case Seq(d) =>
      Cast(Floor(Divide(Cast(call("year", Seq(d)),
        org.apache.spark.sql.types.DoubleType), Literal(10.0))),
        org.apache.spark.sql.types.LongType)
    },
    "era" -> { case Seq(d) =>
      If(GreaterThan(call("year", Seq(d)), Literal(0)),
        Literal(1L), Literal(0L))
    },
    "make_timestamptz" -> (a => call("make_timestamp", a)),
    // fdiv = floor division, fmod = modulo (float-preserving)
    "fdiv" -> { case Seq(a, b) => call("floor", Seq(Divide(a, b))) },
    "fmod" -> { case Seq(a, b) => call("mod", Seq(a, b)) },
    "gen_random_uuid" -> (_ => call("uuid", Nil)),
    // accepted no-ops on a read-only analytical session: RNG seeding is
    // per-query deterministic-rewritten elsewhere, and there is exactly
    // one (implicit, read) transaction
    "setseed" -> (_ => Cast(Literal(null), org.apache.spark.sql.types.BooleanType)),
    "txid_current" -> (_ => Literal(0L)),
    // bar(x, min, max[, width=80]): ASCII bar sugar. Full blocks only
    // (DuckDB adds partial-eighth block chars — documented divergence).
    // bar(x, min, max[, width=80]) — DuckDB's exact rendering
    // (probe-pinned, r11: the eighth-block residual closed):
    //   e = floor(clamp((x−min)/(max−min), 0, 1) · width · 8) eighths,
    //   e/8 full blocks + the (e%8)/8 partial block (▏▎▍▌▋▊▉ —
    //   FLOOR, not round: bar(0.063,0,10,10) is still empty), then
    //   space-padded to `width` BYTES (each block is 3 UTF-8 bytes,
    //   which is why DuckDB's padding looks erratic in chars);
    //   width < 1 errors ("Max bar width must be >= 1").
    "bar" -> { case x +: mn +: mx +: rest =>
      import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
      val width = Cast(rest.headOption.getOrElse(Literal(80)), DoubleType)
      // DuckDB divides in raw IEEE: x>min with min=max gives +Inf (a
      // FULL bar after the clamp), x<min gives −Inf (empty), 0/0 NaN
      // (empty — the r10 audit edge). Spark's Divide returns NULL on a
      // zero divisor instead, so the degenerate cases are spelled out.
      val num = Cast(Subtract(x, mn), DoubleType)
      val den = Cast(Subtract(mx, mn), DoubleType)
      val rawFrac = If(EqualTo(den, Literal(0.0)),
        If(GreaterThan(num, Literal(0.0)), Literal(1.0), Literal(0.0)),
        Divide(num, den))
      val frac = call("greatest", Seq(Literal(0.0),
        call("least", Seq(Literal(1.0),
          If(Or(IsNull(rawFrac), IsNaN(rawFrac)), Literal(0.0), rawFrac)))))
      val okWidth = call("assert_true", Seq(
        GreaterThanOrEqual(width, Literal(1.0)),
        Literal("Out of Range Error: Max bar width must be >= 1")))
      val eighths = Cast(Floor(Multiply(Multiply(frac, width),
        Literal(8.0))), IntegerType)
      val full = Cast(Divide(eighths, Literal(8)), IntegerType)
      val part = Pmod(eighths, Literal(8))
      val partStr = If(EqualTo(part, Literal(0)), Literal(""),
        Substring(Literal("▏▎▍▌▋▊▉"), part, Literal(1)))
      // pad with spaces to TRUNC(width) BYTES (each block is 3 UTF-8
      // bytes; a fractional width pads to its integer part, probe-pinned)
      val pad = call("greatest", Seq(Literal(0),
        Subtract(Cast(width, IntegerType),
          Add(Multiply(full, Literal(3)),
            If(EqualTo(part, Literal(0)), Literal(0), Literal(3))))))
      // NULL inputs (width included) propagate to a NULL bar (DuckDB) —
      // the zeroing above would otherwise render them as an empty bar,
      // and least() skipping NULLs rendered a FULL one before r10.
      // Coalesce forces the assert_true width gate to actually evaluate
      // (the bitOf idiom — an If(IsNull(assert), …) gets optimized away)
      If(Or(IsNull(x), Or(IsNull(mn), Or(IsNull(mx), IsNull(width)))),
        Cast(Literal(null), StringType),
        Coalesce(Seq(Cast(okWidth, StringType), Concat(Seq(
          call("repeat", Seq(Literal("█"), full)), partStr,
          call("repeat", Seq(Literal(" "), pad)))))))
    },
    "starts_with" -> (a => call("startswith", a)),
    "regexp_split_to_array" -> (a => call("split", a)),
    "list_zip" -> (a => call("arrays_zip", a)),
    // banker's rounding (DuckDB round_even macro, 2-arg): Spark's
    // bround IS HALF_EVEN
    "round_even" -> { case Seq(x, n) => call("bround", Seq(x, n)) },
    // row(...) = ANONYMOUS struct constructor: DuckDB keeps the fields
    // nameless and renders them as EMPTY JSON keys
    // (row_to_json(ROW(1,'x')) = {"":1,"":"x"}, duck-pinned — the
    // former struct() spelling leaked Spark's col1/col2 auto-names into
    // the JSON). Spark structs accept empty/duplicate field names.
    "row" -> (a => CreateNamedStruct(
      a.flatMap(e => Seq(Literal(""), e)))),
    // list-family aliases surfaced by probe batch 8 (BIGINT results, like
    // DuckDB's len family)
    "array_concat" -> (a => nullSkippingListConcat(a)),
    "array_length" -> {
      case Seq(x) => graft.engine.expressions.LenAny(x)
      // 2-arg dimension form: flat lists only have dimension 1 (DuckDB
      // errors on any other dimension; probe-19)
      case Seq(x, Literal(d, _)) if d != null && d.toString == "1" =>
        graft.engine.expressions.LenAny(x)
    },
    // generate_subscripts(list, dim): lists are 1-D, dim is accepted and
    // ignored like DuckDB's own behavior for dim=1
    "generate_subscripts" -> { case l +: _ =>
      Explode(call("sequence", Seq(Literal(1L),
        graft.engine.expressions.LenAny(l))))
    },
    "unnest" -> { case Seq(e) => Explode(e) },
    // Dialect's `unnest(x, recursive := true)` target — the marker keeps
    // the Explode unresolved until DuckUnnest dispatches on x's type
    "graft_rec" -> { case Seq(e) =>
      graft.engine.expressions.RecMarker(e) },
    // json_keys: insertion-ordered names; [] for present non-objects
    // (Spark's json_object_keys answers NULL there — fuzz-found)
    "json_keys" -> {
      case Seq(j) =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType), "keysOf", Seq(j),
          Seq(org.apache.spark.sql.types.StringType))
      case Seq(j, p) =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType), "keysOfPath",
          Seq(j, normalizeJsonPath(p)),
          Seq(org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))
    },
    "struct_extract" -> { case Seq(s, name) =>
      org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(s, name)
    },
    // DuckDB even(x): round away from zero to the next even number
    "even" -> { case Seq(x) =>
      Multiply(call("sign", Seq(x)),
        Multiply(Literal(2.0), Ceil(Divide(call("abs", Seq(x)), Literal(2.0)))))
    },
    // signbit: true for negatives AND -0.0 (1/x = -Inf distinguishes)
    "signbit" -> { case Seq(x) =>
      val d = Cast(x, org.apache.spark.sql.types.DoubleType)
      Or(LessThan(d, Literal(0.0)),
        And(EqualTo(d, Literal(0.0)),
          LessThan(Divide(Literal(1.0), d), Literal(0.0))))
    },
    "isinf" -> { case Seq(x) =>
      val d = Cast(x, org.apache.spark.sql.types.DoubleType)
      Or(EqualTo(d, Literal(Double.PositiveInfinity)),
        EqualTo(d, Literal(Double.NegativeInfinity)))
    },
    "isfinite" -> { case Seq(x) =>
      val d = Cast(x, org.apache.spark.sql.types.DoubleType)
      Not(Or(IsNaN(d),
        Or(EqualTo(d, Literal(Double.PositiveInfinity)),
          EqualTo(d, Literal(Double.NegativeInfinity)))))
    },
    // DuckDB format() is fmt-style braces: `{}` sequential, `{n}`
    // positional (0-based), and `{:spec}` with the common spec subset
    // ({:.2f}, {:>6}, {:06.2f}, {:,}) — all translate to printf
    // conversions; literal '%' doubles. Unsupported specs keep the
    // native path (which errors loudly, like an unknown conversion).
    "format" -> {
      case Literal(fmt, _) +: rest if fmt != null &&
          formatToPrintf(fmt.toString).isDefined =>
        val printf = formatToPrintf(fmt.toString).get
        FormatString((Literal(printf) +: cFormatArgs(printf, rest)): _*)
    },
    "damerau_levenshtein" -> { case Seq(x, y) =>
      graft.engine.expressions.DamerauLevenshtein(x, y)
    },
    "ends_with" -> (a => call("endswith", a)),
    // group_concat ≡ string_agg (MySQL-compat alias DuckDB ships);
    // default separator ',' — non-string inputs cast like DuckDB
    "group_concat" -> {
      case Seq(x) => call("string_agg",
        Seq(Cast(x, org.apache.spark.sql.types.StringType), Literal(",")))
      case Seq(x, sep) => call("string_agg",
        Seq(Cast(x, org.apache.spark.sql.types.StringType), sep))
    },
    // DuckDB generate_series is stop-INCLUSIVE — exactly Spark sequence
    "generate_series" -> {
      case Seq(stop) => call("sequence", Seq(Literal(0L), stop))
      case a => call("sequence", a)
    },
    // DuckDB list_reduce has no init: fold the tail from the head
    "list_reduce" -> { case Seq(l, f: LambdaFunction) => listReduce(l, f) },
    "array_reduce" -> { case Seq(l, f: LambdaFunction) => listReduce(l, f) },
    "gcd" -> { case Seq(x, y) =>
      graft.engine.expressions.Gcd(
        Cast(x, org.apache.spark.sql.types.LongType),
        Cast(y, org.apache.spark.sql.types.LongType))
    },
    "lcm" -> { case Seq(x, y) =>
      graft.engine.expressions.Lcm(
        Cast(x, org.apache.spark.sql.types.LongType),
        Cast(y, org.apache.spark.sql.types.LongType))
    },
    "gamma" -> { case Seq(x) =>
      graft.engine.expressions.LogGamma(
        Cast(x, org.apache.spark.sql.types.DoubleType), exp = true)
    },
    "lgamma" -> { case Seq(x) =>
      graft.engine.expressions.LogGamma(
        Cast(x, org.apache.spark.sql.types.DoubleType), exp = false)
    },
    // age(a[, b]): timestamp difference as an interval (day-time form;
    // DuckDB renders a calendar year-month breakdown — close, not equal)
    "age" -> {
      case Seq(a, b) => SubtractTimestamps(a, b)
      case Seq(a) => SubtractTimestamps(
        Cast(CurrentDate(), org.apache.spark.sql.types.TimestampType), a)
    },

    // ---- round-5 gap-probe batch 2 (aggregates / datetime / misc;
    // semantics pinned against DuckDB 1.0 before mapping) ----
    // (fsum/kahan_sum/favg live with sumkahan in the Kahan block below —
    // a duplicate set here silently overwrote it, ADVICE r9)
    "arbitrary" -> (a => call("first", a)),
    // population excess kurtosis — exactly Spark's builtin
    "kurtosis_pop" -> { case Seq(x) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.Kurtosis(
        Cast(x, org.apache.spark.sql.types.DoubleType)).toAggregateExpression()
    },
    // standard error of the mean — DuckDB computes it from the
    // POPULATION stddev (probe-pinned: sem of {1,2,4} is 0.7201 =
    // stddev_pop/√n, not the stddev_samp form)
    "sem" -> { case Seq(x) =>
      val xd = Cast(x, org.apache.spark.sql.types.DoubleType)
      Divide(call("stddev_pop", Seq(xd)),
        call("sqrt", Seq(Cast(call("count", Seq(xd)),
          org.apache.spark.sql.types.DoubleType))))
    },
    // product/entropy/histogram/mad have no Spark builtin → custom
    // aggregates in expressions/DuckAggs.scala
    "product" -> { case Seq(x) => graft.engine.expressions.ProductAgg(
      Cast(x, org.apache.spark.sql.types.DoubleType)) },
    "entropy" -> { case Seq(x) => graft.engine.expressions.EntropyAgg(x) },
    "histogram" -> { case Seq(x) => graft.engine.expressions.HistogramAgg(x) },
    "mad" -> { case Seq(x) => graft.engine.expressions.MadAgg(
      Cast(x, org.apache.spark.sql.types.DoubleType)) },
    // quantile_cont = interpolated exact percentile (scalar or list q);
    // quantile_disc/quantile = discrete — TYPE-PRESERVING like DuckDB
    // (the discrete quantile is an actual element, so casting the
    // DOUBLE PercentileDisc back to the element type is exact;
    // probe batch 16 caught the 12.0-for-12 kind divergence)
    "quantile_cont" -> (a => call("percentile", a)),
    "quantile_disc" -> { case Seq(x, q) => discreteQuantile(x, q) },
    "quantile" -> { case Seq(x, q) => discreteQuantile(x, q) },
    "approx_quantile" -> (a => call("approx_percentile", a)),
    // reservoir_quantile(x, q[, sample_size]): approximate; drop the
    // reservoir-size knob (approx_percentile's accuracy is its analog)
    "reservoir_quantile" -> (a => call("approx_percentile", a.take(2))),
    // 2-arg = min_by/max_by; 3-arg top-n form returns the n args at the
    // smallest/largest vals: sort collected (val, arg) pairs, slice n
    "arg_min" -> { case a => argN(a, desc = false) },
    "argmin" -> { case a => argN(a, desc = false) },
    "arg_max" -> { case a => argN(a, desc = true) },
    "argmax" -> { case a => argN(a, desc = true) },
    // Kahan-compensated float aggs: Spark's double sum is the analog —
    // the plain DOUBLE sum/avg agree within the differential gate's
    // float tolerance, and the compensation itself is not reproducible
    // bit-for-bit across partitionings anyway
    "favg" -> { case Seq(x) =>
      call("avg", Seq(Cast(x, org.apache.spark.sql.types.DoubleType))) },
    "fsum" -> { case Seq(x) => sumDouble(x) },
    "sumkahan" -> { case Seq(x) => sumDouble(x) },
    "kahan_sum" -> { case Seq(x) => sumDouble(x) },
    // DuckDB list(x) = array_agg
    "list" -> (a => call("collect_list", a)),
    // DATE args cast through TIMESTAMP (r10 audit: epoch_ns(DATE)
    // fell to unix_micros' type error)
    "epoch_ns" -> { case Seq(t) =>
      Multiply(call("unix_micros", Seq(Cast(t,
        org.apache.spark.sql.types.TimestampType))), Literal(1000L)) },
    // timezone(tz, ts): interpret naive ts in tz → instant (DuckDB
    // AT TIME ZONE); to_utc_timestamp matches (verified vs DuckDB).
    // 1-arg form = the session offset in seconds — constant 0 on the
    // UTC-pinned sessions, NULL-propagating (r10 audit)
    "timezone" -> {
      case Seq(t) => If(IsNull(t),
        Cast(Literal(null), org.apache.spark.sql.types.LongType), Literal(0L))
      case Seq(tz, t) => call("to_utc_timestamp", Seq(t, tz))
    },
    "to_days" -> { case Seq(n) => call("make_dt_interval", Seq(n)) },
    "to_weeks" -> { case Seq(n) =>
      call("make_dt_interval", Seq(Multiply(n, Literal(7)))) },
    "to_hours" -> { case Seq(n) =>
      call("make_dt_interval", Seq(Literal(0), n)) },
    "to_minutes" -> { case Seq(n) =>
      call("make_dt_interval", Seq(Literal(0), Literal(0), n)) },
    "to_seconds" -> { case Seq(n) =>
      call("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0), n)) },
    "to_milliseconds" -> { case Seq(n) =>
      call("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0),
        Divide(Cast(n, org.apache.spark.sql.types.DoubleType),
          Literal(1000.0)))) },
    "to_microseconds" -> { case Seq(n) =>
      call("make_dt_interval", Seq(Literal(0), Literal(0), Literal(0),
        Divide(Cast(n, org.apache.spark.sql.types.DoubleType),
          Literal(1000000.0)))) },
    "to_years" -> { case Seq(n) => call("make_interval", Seq(n)) },
    "to_months" -> { case Seq(n) =>
      call("make_interval", Seq(Literal(0), n)) },
    "to_decades" -> { case Seq(n) =>
      call("make_interval", Seq(Multiply(n, Literal(10)))) },
    "to_centuries" -> { case Seq(n) =>
      call("make_interval", Seq(Multiply(n, Literal(100)))) },
    "to_millennia" -> { case Seq(n) =>
      call("make_interval", Seq(Multiply(n, Literal(1000)))) },
    // current_setting: resolved at analysis time from the session conf
    "current_setting" -> { case Seq(Literal(k, _)) if k != null =>
      k.toString.toLowerCase match {
        case "timezone" => Literal(
          org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)
        case "threads" => Literal(
          org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions)
        case other => throw new IllegalArgumentException(
          s"current_setting: unsupported setting '$other'")
      }
    },
    "datetrunc" -> (a => call("date_trunc", a)),
    "nextafter" -> { case Seq(a, b) =>
      org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
        classOf[java.lang.Math],
        org.apache.spark.sql.types.DoubleType, "nextAfter",
        Seq(Cast(a, org.apache.spark.sql.types.DoubleType),
          Cast(b, org.apache.spark.sql.types.DoubleType)),
        Seq(org.apache.spark.sql.types.DoubleType,
          org.apache.spark.sql.types.DoubleType))
    },
    "xor" -> { case Seq(a, b) => BitwiseXor(a, b) },
    // Dialect bracket-slice target (x[a:b] — string OR list)
    "graft_slice" -> { case Seq(x, a, b) =>
      graft.engine.expressions.SliceAny(x, a, b) },
    // Dialect bracket-subscript target (x[i] — string, list, or map)
    "graft_subscript" -> { case Seq(x, i) =>
      graft.engine.expressions.SubscriptAny(x, i)
    },
    // ---- round-6 gap-probe batch 7 (JSON/list-set/path sugar) ----
    "list_intersect" -> (a => call("array_intersect", a)),
    "array_has_any" -> (a => call("arrays_overlap", a)),
    "list_pack" -> (a => call("array", a)),
    // list_where(l, mask): keep l[i] where mask[i]
    "list_where" -> { case Seq(l, mask) => listWhere(l, mask) },
    // list_select(l, idxs): elements of l at the (1-based) idxs
    "list_select" -> { case Seq(l, idxs) => listSelect(l, idxs) },

    // ---- round-10 function-surface audit batch (SURVEY §5.3 audit;
    // tools/audit_functions.py swept all 604 DuckDB-1.0 names and these
    // were the resolvable gaps) ----
    // array_* spellings of the list_* handlers DuckDB also exposes
    "array_cat" -> (a => nullSkippingListConcat(a)),
    "array_extract" -> (a => call("element_at", a)),
    "array_has" -> (a => call("array_contains", a)),
    "array_indexof" -> (a => call("array_position", a)),
    "array_resize" -> {
      case Seq(l, n) => listResize(l, n, Cast(Literal(null),
        org.apache.spark.sql.types.NullType))
      case Seq(l, n, fill) => listResize(l, n, fill)
    },
    "array_unique" -> { case Seq(l) =>
      Cast(call("size", Seq(call("array_distinct",
        Seq(call("array_compact", Seq(l)))))),
        org.apache.spark.sql.types.LongType)
    },
    "array_reverse_sort" -> (a =>
      call("reverse", Seq(call("array_sort", a)))),
    "array_grade_up" -> { case Seq(l) => gradeUp(l) },
    "grade_up" -> { case Seq(l) => gradeUp(l) },
    "array_select" -> { case Seq(l, idxs) => listSelect(l, idxs) },
    "array_where" -> { case Seq(l, mask) => listWhere(l, mask) },
    // operator function forms (add(3) = 3, subtract(3) = -3,
    // divide = the // integral form — all probe-pinned)
    "add" -> { case Seq(a) => a; case Seq(a, b) => Add(a, b) },
    "subtract" -> { case Seq(a) => UnaryMinus(a)
                    case Seq(a, b) => Subtract(a, b) },
    "multiply" -> { case Seq(a, b) => Multiply(a, b) },
    "divide" -> { case Seq(a, b) => call("div", Seq(a, b)) },
    "greatest_common_divisor" -> { case Seq(x, y) =>
      graft.engine.expressions.Gcd(
        Cast(x, org.apache.spark.sql.types.LongType),
        Cast(y, org.apache.spark.sql.types.LongType))
    },
    "least_common_multiple" -> { case Seq(x, y) =>
      graft.engine.expressions.Lcm(
        Cast(x, org.apache.spark.sql.types.LongType),
        Cast(y, org.apache.spark.sql.types.LongType))
    },
    // alias(e): the expression's output name (alias(3) = '3',
    // alias('x') = "'x'", alias(col) = column name)
    "alias" -> { case Seq(e) =>
      Literal(e match {
        case n: org.apache.spark.sql.catalyst.expressions.NamedExpression => n.name
        case other => other.sql
      })
    },
    // arg_max_null/arg_min_null KEEP a NULL argument at the extreme
    // value (plain arg_max skips them): wrap the arg in a 1-element
    // array (never NULL itself) so max_by can carry it, then unwrap
    "arg_max_null" -> { case Seq(a, v) =>
      call("element_at", Seq(call("max_by",
        Seq(CreateArray(Seq(a)), v)), Literal(1)))
    },
    "arg_min_null" -> { case Seq(a, v) =>
      call("element_at", Seq(call("min_by",
        Seq(CreateArray(Seq(a)), v)), Literal(1)))
    },
    // constant_or_null(x, cond…): x unless any condition arg is NULL
    "constant_or_null" -> { case a +: rest if rest.nonEmpty =>
      If(rest.map(IsNull(_): Expression).reduce(Or), Literal(null), a)
    },
    "count_star" -> { case Seq() => call("count", Seq(Literal(1))) },
    // isoyear = year of the Thursday of d's ISO week (same derivation
    // as yearweek's ISO-year component)
    "isoyear" -> { case Seq(d) =>
      val isoDow = Add(WeekDay(d), Literal(1))
      Cast(call("year", Seq(call("date_add",
        Seq(d, Subtract(Literal(4), isoDow))))),
        org.apache.spark.sql.types.LongType)
    },
    // json_extract_path[_text]: path-form aliases; DuckDB accepts
    // numeric path atoms ('{"3": 9}' with path 3), so stringify
    "json_extract_path" -> { case Seq(j, p) =>
      call("json_extract",
        Seq(j, Cast(p, org.apache.spark.sql.types.StringType)))
    },
    "json_extract_path_text" -> { case Seq(j, p) =>
      call("json_extract_string",
        Seq(j, Cast(p, org.apache.spark.sql.types.StringType)))
    },
    // grapheme-cluster string family (UAX#29 via BreakIterator —
    // length('héllo' with a combining accent) counts 6, graphemes 5)
    "length_grapheme" -> { case Seq(s) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.LongType, "lengthGrapheme",
        Seq(s), Seq(org.apache.spark.sql.types.StringType))
    },
    "left_grapheme" -> { case Seq(s, n) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "leftGrapheme",
        Seq(s, Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType))
    },
    "right_grapheme" -> { case Seq(s, n) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "rightGrapheme",
        Seq(s, Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType))
    },
    "substring_grapheme" -> { case Seq(s, b, n) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "substringGrapheme",
        Seq(s, Cast(b, org.apache.spark.sql.types.LongType),
          Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.LongType))
    },
    // sub-minute time parts accept DATE too (0 there); millennium is
    // ceil(year/1000) — 2024 → 3
    "microsecond" -> { case Seq(t) =>
      Pmod(call("unix_micros", Seq(Cast(t,
        org.apache.spark.sql.types.TimestampType))), Literal(60000000L))
    },
    // integer division: DuckDB returns truncated BIGINT millis, not a
    // DOUBLE with the fractional micros
    "millisecond" -> { case Seq(t) =>
      call("div", Seq(Pmod(call("unix_micros", Seq(Cast(t,
        org.apache.spark.sql.types.TimestampType))), Literal(60000000L)),
        Literal(1000L)))
    },
    "millennium" -> { case Seq(d) =>
      Cast(call("ceil", Seq(Divide(
        Cast(call("year", Seq(d)), org.apache.spark.sql.types.DoubleType),
        Literal(1000.0)))), org.apache.spark.sql.types.LongType)
    },
    // parse_path: components with both separators, root slash kept
    "parse_path" -> { case Seq(p) =>
      val norm = call("regexp_replace", Seq(p, Literal("\\\\"), Literal("/")))
      val parts = ArrayFilter(call("split", Seq(norm, Literal("/"))),
        lam(vs => Not(EqualTo(vs(0), Literal(""))), 1))
      If(call("startswith", Seq(norm, Literal("/"))),
        call("concat", Seq(CreateArray(Seq(Literal("/"))), parts)), parts)
    },
    "to_quarters" -> { case Seq(n) =>
      call("make_interval", Seq(Literal(0), Multiply(n, Literal(3)))) },
    "try_strptime" -> { case Seq(s, Literal(fmt, _)) =>
      TryEval(strptime1900(s, fmt.toString))
    },
    "unpivot_list" -> (a => CreateArray(a)),
    // search-path membership for the fixed read-only catalog layout
    "in_search_path" -> { case Seq(db, sch) =>
      And(
        In(db, Seq(Literal("memory"), Literal("system"), Literal("temp"),
          Literal("spark_catalog"))),
        In(sch, Seq(Literal("main"), Literal("default"), Literal("pg_catalog"))))
    },
    // ---- round-10 audit batch 2 (lambda/exotic-typed names) ----
    "array_distance" -> { case Seq(x, y) => listDistance(x, y) },
    // 3-vector cross product: [a2b3−a3b2, a3b1−a1b3, a1b2−a2b1]
    "array_cross_product" -> { case Seq(x, y) =>
      def e(v: Expression, i: Int) =
        Cast(call("element_at", Seq(v, Literal(i))),
          org.apache.spark.sql.types.DoubleType)
      CreateArray(Seq(
        Subtract(Multiply(e(x, 2), e(y, 3)), Multiply(e(x, 3), e(y, 2))),
        Subtract(Multiply(e(x, 3), e(y, 1)), Multiply(e(x, 1), e(y, 3))),
        Subtract(Multiply(e(x, 1), e(y, 2)), Multiply(e(x, 2), e(y, 1)))))
    },
    "array_value" -> (a => call("array", a)),
    "array_zip" -> (a => call("arrays_zip", a)),
    "array_to_json" -> (a => call("to_json", a)),
    "row_to_json" -> (a => call("to_json", a)),
    "from_json_strict" -> (a => call("from_json", a)),
    // json_transform(j, spec): parse by the DuckDB shape spec (the
    // from_json override translates it), re-serialize — keys absent
    // from the spec drop, values cast ({"a":1} with {"a":"VARCHAR"}
    // → {"a":"1"}, duck-pinned)
    "json_transform" -> { case Seq(j, spec) =>
      call("to_json", Seq(call("from_json", Seq(j, spec)))) },
    "json_transform_strict" -> { case Seq(j, spec) =>
      call("to_json", Seq(call("from_json", Seq(j, spec)))) },
    // BIT carrier is the 0/1 text (round-7): position is a substring
    // search, 0 when absent — both duck-pinned
    "bit_position" -> { case Seq(sub, bs) =>
      Cast(call("instr", Seq(bs, sub)),
        org.apache.spark.sql.types.IntegerType) },
    // unbin/from_binary: bit string → BLOB bytes
    "unbin" -> { case Seq(s) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.BinaryType, "bytesFromBits",
        Seq(s), Seq(org.apache.spark.sql.types.StringType))
    },
    "from_binary" -> { case Seq(s) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.BinaryType, "bytesFromBits",
        Seq(s), Seq(org.apache.spark.sql.types.StringType))
    },
    // LIKE with an explicit escape character (function forms)
    "like_escape" -> { case Seq(s, p, Literal(e, _)) if e != null &&
        e.toString.length == 1 =>
      Like(s, p, e.toString.head) },
    "ilike_escape" -> { case Seq(s, p, Literal(e, _)) if e != null &&
        e.toString.length == 1 =>
      ILike(s, p, e.toString.head) },
    "not_like_escape" -> { case Seq(s, p, Literal(e, _)) if e != null &&
        e.toString.length == 1 =>
      Not(Like(s, p, e.toString.head)) },
    "not_ilike_escape" -> { case Seq(s, p, Literal(e, _)) if e != null &&
        e.toString.length == 1 =>
      Not(ILike(s, p, e.toString.head)) },
    // datesub(part, a, b): COMPLETE elapsed units, signed toward zero
    // — distinct from date_diff's boundary-crossing count (duck-pinned:
    // datesub('month', Jan 31, Feb 28) = 0 but → Feb 29 = 1;
    // datesub(a, b) = −datesub(b, a)). The date_sub spelling is an
    // OVERRIDE (Spark's 2-arg date_sub builtin keeps the fallthrough).
    "datesub" -> { case Seq(Literal(part, _), a, b) =>
      completeDiff(part.toString, a, b) },
    // ---- round-10 audit stage 3: the MACRO surface ----
    // list_<stat> aggregate sugar → one DOUBLE kernel (nulls skipped,
    // semantics mirror the scalar aggregates; TextKernels.listStat)
    "list_median" -> { case Seq(l) => listStat(l, "median") },
    "list_mad" -> { case Seq(l) => listStat(l, "mad") },
    "list_sem" -> { case Seq(l) => listStat(l, "sem") },
    "list_skewness" -> { case Seq(l) => listStat(l, "skewness") },
    "list_kurtosis" -> { case Seq(l) => listStat(l, "kurtosis") },
    "list_kurtosis_pop" -> { case Seq(l) => listStat(l, "kurtosis_pop") },
    "list_stddev_pop" -> { case Seq(l) => listStat(l, "stddev_pop") },
    "list_stddev_samp" -> { case Seq(l) => listStat(l, "stddev_samp") },
    "list_var_pop" -> { case Seq(l) => listStat(l, "var_pop") },
    "list_var_samp" -> { case Seq(l) => listStat(l, "var_samp") },
    "list_entropy" -> { case Seq(l) => listStat(l, "entropy") },
    "list_product" -> { case Seq(l) => listStat(l, "product") },
    // element-typed list sugar
    "list_count" -> { case Seq(l) =>
      Cast(call("size", Seq(call("array_compact", Seq(l)))),
        org.apache.spark.sql.types.LongType) },
    "list_first" -> { case Seq(l) =>
      call("try_element_at", Seq(l, Literal(1))) },
    "list_last" -> { case Seq(l) =>
      call("try_element_at", Seq(l, Literal(-1))) },
    "list_any_value" -> { case Seq(l) =>
      call("try_element_at", Seq(call("array_compact", Seq(l)), Literal(1))) },
    "list_approx_count_distinct" -> { case Seq(l) =>
      Cast(call("size", Seq(call("array_distinct",
        Seq(call("array_compact", Seq(l)))))),
        org.apache.spark.sql.types.LongType) },
    "list_string_agg" -> { case Seq(l) =>
      call("array_join", Seq(Cast(l, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)), Literal(","))) },
    "list_bit_and" -> { case Seq(l) =>
      listReduce(call("array_compact", Seq(l)),
        lam(vs => BitwiseAnd(vs(0), vs(1)), 2)) },
    "list_bit_or" -> { case Seq(l) =>
      listReduce(call("array_compact", Seq(l)),
        lam(vs => BitwiseOr(vs(0), vs(1)), 2)) },
    "list_bit_xor" -> { case Seq(l) =>
      listReduce(call("array_compact", Seq(l)),
        lam(vs => BitwiseXor(vs(0), vs(1)), 2)) },
    // list_mode: most frequent element, smallest value on ties — the
    // (−count, value) min picks max count then min value
    "list_mode" -> { case Seq(l) => listMode(l) },
    // list_histogram: value → count map, keys ascending
    "list_histogram" -> { case Seq(l) => listHistogram(l) },
    // geometric mean aggregate = exp(avg(ln x))
    "geomean" -> { case Seq(x) =>
      call("exp", Seq(call("avg", Seq(call("ln", Seq(Cast(x,
        org.apache.spark.sql.types.DoubleType))))))) },
    "geometric_mean" -> { case Seq(x) =>
      call("exp", Seq(call("avg", Seq(call("ln", Seq(Cast(x,
        org.apache.spark.sql.types.DoubleType))))))) },
    "roundbankers" -> (a => call("bround", a)),
    // generator sugar: split then explode in select position
    "regexp_split_to_table" -> { case Seq(s, re) =>
      call("explode", Seq(call("split", Seq(s, re)))) },
    "array_has_all" -> { case Seq(l, sub) =>
      ArrayForAll(sub, lam(vs => call("array_contains", Seq(l, vs(0))), 1)) },
    // pg-catalog compat stubs, each value duck-pinned (tools/BI issue
    // these reflexively: psql \d, DBeaver, metabase introspection)
    "pg_typeof" -> { case Seq(x) =>
      call("lower", Seq(call("typeof", Seq(x)))) },
    "pg_size_pretty" -> { case Seq(n) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "sizePretty",
        Seq(Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.LongType)) },
    "pg_get_expr" -> { case Seq(a, _) => a },
    "format_pg_type" -> { case Seq(a, _) => a },
    "pg_my_temp_schema" -> { case Seq() => Literal(0L) },
    "pg_is_other_temp_schema" -> { case Seq(_) => Literal(false) },
    "current_role" -> { case Seq() => Literal("duckdb") },
    // (session_user is a Spark builtin — its 'duckdb' stub lives in
    // the OVERRIDES with user/current_user)
    "json_group_structure" -> { case Seq(j) =>
      // true merged group structure (was a first-value approximation
      // until r12): one structure-tree state per group, unify as
      // update/merge — expressions/DuckAggs.JsonGroupStructureAgg
      graft.engine.expressions.JsonGroupStructureAgg(Cast(j,
        org.apache.spark.sql.types.StringType)) },
    "pg_conf_load_time" -> { case Seq() => call("current_timestamp", Nil) },
    "pg_postmaster_start_time" -> { case Seq() => call("current_timestamp", Nil) },
    "map_to_pg_oid" -> { case Seq(_) => nullLit },
    "format_type" -> { case Seq(_, _) => nullLit },
    "col_description" -> { case Seq(_, _) => nullLit },
    "obj_description" -> { case Seq(_, _) => nullLit },
    "shobj_description" -> { case Seq(_, _) => nullLit },
    "pg_get_viewdef" -> { case args if args.nonEmpty => nullLit },
    "pg_get_constraintdef" -> { case args if args.nonEmpty => nullLit },
    "inet_client_addr" -> { case Seq() => nullLit },
    "inet_client_port" -> { case Seq() => nullLit },
    "inet_server_addr" -> { case Seq() => nullLit },
    "inet_server_port" -> { case Seq() => nullLit },
    "get_block_size" -> { case Seq(_) => nullLit },
    "pg_has_role" -> { case args if args.nonEmpty => Literal(true) },
    // the constant-true grants mirror DuckDB's own pg-compat macros and
    // are NOT an access-control surface — read-only enforcement lives in
    // statement classification (Gateway, SURVEY §2.12 D8)
    "has_table_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_column_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_database_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_schema_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_sequence_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_server_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_tablespace_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_function_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_language_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_foreign_data_wrapper_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "has_any_column_privilege" -> { case args if args.nonEmpty => Literal(true) },
    "pg_table_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_type_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_function_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_collation_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_conversion_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_opclass_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_operator_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_opfamily_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_ts_config_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_ts_dict_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_ts_parser_is_visible" -> { case Seq(_) => Literal(true) },
    "pg_ts_template_is_visible" -> { case Seq(_) => Literal(true) },
    // collation sort keys (uppercase hex): ordering-compatible with
    // DuckDB's ICU extension, key BYTES are library-specific (JDK
    // collator here) — documented in §5.3. The ~150 icu_collate_<loc>
    // sugar forms rewrite onto this in the dialect.
    "icu_sort_key" -> { case Seq(s, loc) =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "icuSortKey",
        Seq(s, Cast(loc, org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType,
          org.apache.spark.sql.types.StringType))
    },
    // parse_filename(p[, trim_extension]): last path component; the
    // boolean form strips from the LAST dot (probe-pinned: 'c.tar.gz'
    // with true → 'c.tar'; '.hidden' → ''; 'noext' unchanged)
    "parse_filename" -> {
      case Seq(p) =>
        call("regexp_extract", Seq(p, Literal("([^/\\\\]*)$"), Literal(1)))
      case Seq(p, Literal(true, org.apache.spark.sql.types.BooleanType)) =>
        call("regexp_replace", Seq(
          call("regexp_extract", Seq(p, Literal("([^/\\\\]*)$"), Literal(1))),
          Literal("\\.[^.]*$"), Literal(""), Literal("g")))
      case Seq(p, Literal(false, org.apache.spark.sql.types.BooleanType)) =>
        call("regexp_extract", Seq(p, Literal("([^/\\\\]*)$"), Literal(1)))
    },
    // parse_dirname = the FIRST path component ('/' for an absolute
    // path, '' when there is no separator); parse_dirpath = everything
    // before the last separator — probe-pinned against DuckDB 1.0
    // (pre-r9 parse_dirname wrongly answered the dirpath)
    "parse_dirname" -> { case Seq(p) =>
      CaseWhen(Seq(
        (IsNull(p), Cast(Literal(null), org.apache.spark.sql.types.StringType)),
        (call("startswith", Seq(p, Literal("/"))), Literal("/")),
        (call("startswith", Seq(p, Literal("\\"))), Literal("\\")),
        (call("rlike", Seq(p, Literal("[/\\\\]"))),
          call("regexp_extract", Seq(p, Literal("^([^/\\\\]*)"), Literal(1))))),
        Literal(""))
    },
    "parse_dirpath" -> { case Seq(p) =>
      call("regexp_extract", Seq(p, Literal("^(.*)[/\\\\]"), Literal(1)))
    },
    // md5_number_lower/upper: one 8-byte half of the digest read
    // LITTLE-ENDIAN (DuckDB loads the half verbatim from digest memory;
    // probe-pinned values) — reverse the byte pairs before conv()
    "md5_number_lower" -> { case Seq(x) =>
      md5HalfLE(call("md5", Seq(x)), lower = true)
    },
    "md5_number_upper" -> { case Seq(x) =>
      md5HalfLE(call("md5", Seq(x)), lower = false)
    },
    // uuidv7: real RFC 9562 v7 since r12 (48-bit ms prefix + version/
    // variant bits + random tail — expressions/UuidV7.scala); the
    // extraction pair reads the prefix back (v1's Gregorian counter
    // also supported). uuidv4 = DuckDB 1.4's explicit-version alias.
    "uuidv7" -> (_ => graft.engine.expressions.UuidV7()),
    "uuidv4" -> (_ => call("uuid", Nil)),
    "uuid_extract_version" -> { case Seq(u) =>
      StaticInvoke(graft.engine.expressions.UuidKernels.getClass,
        org.apache.spark.sql.types.IntegerType, "extractVersion",
        Seq(Cast(u, org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType)) },
    // TimestampType's internal form IS epoch micros, so the Long the
    // kernel returns needs no further conversion
    "uuid_extract_timestamp" -> { case Seq(u) =>
      StaticInvoke(graft.engine.expressions.UuidKernels.getClass,
        org.apache.spark.sql.types.TimestampType, "extractTimestampMicros",
        Seq(Cast(u, org.apache.spark.sql.types.StringType)),
        Seq(org.apache.spark.sql.types.StringType)) },
    "get_current_timestamp" -> (_ => call("now", Nil)),
    "transaction_timestamp" -> (_ => call("now", Nil)),
    "today" -> (_ => call("current_date", Nil)),
    // Spark 4.1's native TIME (gateway sessions enable
    // spark.sql.timeType.enabled): typed TIME like DuckDB, not the
    // round-6 VARCHAR fallback
    "get_current_time" -> (_ => call("current_time", Nil)),
    // ---- round-6 batch 8: DuckDB JSON introspection (Jackson-backed
    // static kernels, graft/engine/expressions/JsonIntrospect.scala —
    // semantics DuckDB-verified, see Scaladoc there)
    // ---- round-7: BIT (bitstring) family. Representation: a STRING of
    // '0'/'1' (SURVEY §1.4) — DuckDB itself prints/compares BIT as that
    // text, so the encoding round-trips VARCHAR casts verbatim. Integer
    // → BIT is the two's-complement pattern at the source type's width
    // (INT 32, BIGINT 64), exactly DuckDB's cast.
    "graft_bit" -> { case Seq(e) => bitOf(e) },
    "bitstring" -> { case Seq(s, n) =>
      call("lpad", Seq(bitOf(s), n, Literal("0"))) },
    "get_bit" -> { case Seq(b, i) =>
      Cast(Substring(b, Add(Cast(i, org.apache.spark.sql.types.IntegerType),
        Literal(1)), Literal(1)), org.apache.spark.sql.types.IntegerType) },
    "set_bit" -> { case Seq(b, i, v) =>
      val ii = Cast(i, org.apache.spark.sql.types.IntegerType)
      Concat(Seq(Substring(b, Literal(1), ii),
        Cast(v, org.apache.spark.sql.types.StringType),
        call("substring", Seq(b, Add(ii, Literal(2)))))) },
    "bitstring_agg" -> {
      case Seq(x) => bitstringAgg(x, call("min", Seq(x)), call("max", Seq(x)))
      case Seq(x, lo, hi) => bitstringAgg(x, lo, hi)
    },
    // ---- round-7: UNION data type — struct(tag, member…) encoding
    // (SURVEY §1.4). union_value arrives via the Dialect := rewrite as
    // union_value('tag', v).
    "union_value" -> { case Seq(Literal(tag, _), v) if tag != null =>
      CreateNamedStruct(Seq(Literal("tag"), Literal(tag.toString),
        Literal(tag.toString), v)) },
    "union_tag" -> { case Seq(u) =>
      org.apache.spark.sql.catalyst.analysis
        .UnresolvedExtractValue(u, Literal("tag")) },
    "union_extract" -> { case Seq(u, Literal(m, _)) if m != null =>
      val tag = org.apache.spark.sql.catalyst.analysis
        .UnresolvedExtractValue(u, Literal("tag"))
      If(EqualTo(tag, Literal(m.toString)),
        org.apache.spark.sql.catalyst.analysis
          .UnresolvedExtractValue(u, Literal(m.toString)),
        Literal(null, org.apache.spark.sql.types.NullType)) },
    "json_type" -> {
      case Seq(j) => jsonInvoke("jsonType", Seq(j))
      case Seq(j, p) => jsonInvoke("jsonTypePath", Seq(j, p))
    },
    "json_structure" -> { case Seq(j) => jsonInvoke("jsonStructure", Seq(j)) },
    "json_merge_patch" -> { case Seq(a, b) =>
      jsonInvoke("jsonMergePatch", Seq(a, b)) },
    "json_contains" -> { case Seq(h, n) =>
      jsonInvoke("jsonContains", Seq(h, n),
        org.apache.spark.sql.types.BooleanType) },
    "nfc_normalize" -> { case Seq(s) => jsonInvoke("nfcNormalize", Seq(s)) },
    "format_bytes" -> { case Seq(n) =>
      StaticInvoke(
        classOf[graft.engine.expressions.JsonIntrospect.type],
        org.apache.spark.sql.types.StringType, "formatBytes",
        Seq(Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.LongType))
    },
    "formatReadableSize" -> { case Seq(n) =>
      call("format_bytes", Seq(n)) })

  /** StaticInvoke into the [[graft.engine.expressions.JsonIntrospect]]
    * kernels: string in / string-or-boolean out, null-propagating.
    */
  private def jsonInvoke(method: String, args: Seq[Expression],
      dt: org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType): Expression =
    StaticInvoke(
      classOf[graft.engine.expressions.JsonIntrospect.type], dt, method,
      args.map(a => Cast(a, org.apache.spark.sql.types.StringType)),
      args.map(_ => org.apache.spark.sql.types.StringType))

  /** DuckDB boundary-crossing date_diff: truncate both sides to the
    * part, then count complete parts between the truncations.
    */
  private def boundaryDiff(part: String, a: Expression, b: Expression): Expression =
    call("timestampdiff", Seq(Literal(part),
      call("date_trunc", Seq(Literal(part), a)),
      call("date_trunc", Seq(Literal(part), b))))

  /** Shims whose names collide with Spark builtins of DIFFERENT
    * signature/semantics — these intentionally shadow the builtin in the
    * session registry, falling through to the builtin's expression for
    * the Spark-native arity.
    */
  private val overrides: Seq[(String, PartialFunction[Seq[Expression], Expression])] = Seq(
    // DuckDB log(x) is LOG BASE 10 (Spark's 1-arg log is ln — a silent
    // VALUE divergence, caught by probe batch 6); 2-arg log(b, x) agrees
    "log" -> {
      case Seq(x) => Log10(x)
      case Seq(b, x) => Logarithm(b, x)
    },
    // DuckDB dayname/monthname return FULL names ('Saturday', 'June');
    // Spark 4's builtins abbreviate ('Sat', 'Jun') — a silent value
    // divergence caught by probe batch 13
    // DuckDB hash() is UBIGINT (64-bit); Spark's builtin is a 32-bit
    // INT — match the TYPE (unsigned 64-bit via the DECIMAL(20,0)
    // carrier, xxhash64 kernel). VALUES are engine-defined on both
    // sides: DuckDB documents its hash as unstable across versions, so
    // clients may depend on determinism-within-a-version (held here)
    // but not on the bit pattern. tools/fuzz_scalar.py compares hash()
    // expressions on null-ness/type only for this reason.
    "hash" -> { case args if args.nonEmpty =>
      val x = call("xxhash64", args)
      val dec = org.apache.spark.sql.types.DecimalType(20, 0)
      Cast(CaseWhen(Seq((LessThan(x, Literal(0L)),
        Add(Cast(x, dec),
          Literal(new java.math.BigDecimal("18446744073709551616"))))),
        Cast(x, dec)), dec)
    },
    // json_array_length is a Spark builtin (1-arg, NULL for
    // non-arrays) — DuckDB's form adds an optional path and answers 0
    // for present non-arrays (fuzz-pinned), so both arities shadow it
    "json_array_length" -> {
      case Seq(j) =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          org.apache.spark.sql.types.LongType, "arrayLength", Seq(j),
          Seq(org.apache.spark.sql.types.StringType))
      case Seq(j, p) =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          org.apache.spark.sql.types.LongType, "arrayLengthPath",
          Seq(j, normalizeJsonPath(p)),
          Seq(org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType))
    },
    // EXTRACT(field FROM x) routes through DuckDB's part numbering
    // (epoch/dow/isodow/decade… — Spark's extract rejects epoch and
    // numbers dow differently; same table as date_part)
    "extract" -> {
      case Seq(Literal(f, _), d) if f != null &&
          d.resolved && (d.dataType == org.apache.spark.sql.types.DateType ||
            d.dataType == org.apache.spark.sql.types.TimestampType ||
            d.dataType == org.apache.spark.sql.types.TimestampNTZType) =>
        // DATE/TIMESTAMP sources only: TIME and non-epoch interval
        // extraction keep Spark's native builders (parseExtractField
        // mis-types TIME)
        duckDatePart(f.toString, d)
      case Seq(Literal(f, _), it) if f != null &&
          f.toString.equalsIgnoreCase("epoch") && it.resolved &&
          epochOfInterval(it).isDefined =>
        // epoch OF AN INTERVAL: total seconds as DOUBLE, a month
        // counting 30 days (DuckDB 1.0 probe-pinned; Spark's extract
        // rejects epoch on intervals outright)
        epochOfInterval(it).get
    },
    // DuckDB date_trunc returns DATE for day-or-coarser parts — on ANY
    // input kind (TIMESTAMP included; typeof-pinned against 1.0), where
    // Spark's builtin always answers TIMESTAMP. Sub-day truncation of a
    // DATE is the date itself. decade/century/millennium are year
    // arithmetic (Spark's TruncTimestamp doesn't know those formats and
    // answers NULL — fuzz/advice-found r8): DuckDB 1.0 floors the year
    // by simple modulo (century of 2000-06 is 2000-01-01, NOT the
    // Postgres year-1 convention; value-pinned against 1.0).
    "date_trunc" -> {
      // both arms construct TruncTimestamp DIRECTLY — a call() back into
      // the registry would re-enter this override forever
      case Seq(Literal(p, _), x) if p != null && x.resolved &&
          x.dataType == org.apache.spark.sql.types.DateType =>
        p.toString.toLowerCase match {
          case "hour" | "minute" | "second" | "millisecond" |
              "microsecond" => x
          case "decade" => yearFloorDate(x, 10)
          case "century" => yearFloorDate(x, 100)
          case "millennium" => yearFloorDate(x, 1000)
          case part => Cast(TruncTimestamp(Literal(part),
            Cast(x, org.apache.spark.sql.types.TimestampType)),
            org.apache.spark.sql.types.DateType)
        }
      case Seq(Literal(p, _), x) if p != null && x.resolved &&
          Set("day", "week", "month", "quarter", "year", "decade",
            "century", "millennium")(p.toString.toLowerCase) &&
          (x.dataType == org.apache.spark.sql.types.TimestampType ||
            x.dataType == org.apache.spark.sql.types.TimestampNTZType) =>
        p.toString.toLowerCase match {
          case "decade" => yearFloorDate(x, 10)
          case "century" => yearFloorDate(x, 100)
          case "millennium" => yearFloorDate(x, 1000)
          case part => Cast(TruncTimestamp(Literal(part), x),
            org.apache.spark.sql.types.DateType)
        }
    },
    // session introspection scalars (DuckDB defaults: served database
    // 'memory', default schema 'main') — Spark's builtins answer
    // 'default'/the Spark build version, a client-visible divergence
    "current_schema" -> { case Seq() => Literal("main") },
    "current_database" -> { case Seq() => Literal("memory") },
    "version" -> { case Seq() => Literal("v0.5.0-graft") },
    "dayname" -> { case Seq(d) =>
      call("date_format", Seq(d, Literal("EEEE"))) },
    // single-arg greatest/least pass through (DuckDB allows them;
    // Spark's builtins demand ≥2 — r10 audit); ≥2 args fall through
    "greatest" -> { case Seq(x) => x },
    "least" -> { case Seq(x) => x },
    // DuckDB's 3-arg date_sub(part, a, b) = complete elapsed units;
    // Spark's 2-arg date_sub(date, days) keeps the fallthrough
    "date_sub" -> { case Seq(Literal(part, _), a, b) =>
      completeDiff(part.toString, a, b) },
    // count_if over a numeric arg: DuckDB's truthiness cast
    "count_if" -> { case Seq(x) if x.resolved &&
        x.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
      call("count_if", Seq(Cast(x, org.apache.spark.sql.types.BooleanType))) },
    // DuckDB array_prepend is (element, list) — Spark's builtin is
    // (list, element); swap when the shapes identify the duck order
    "array_prepend" -> { case Seq(e, l) if e.resolved && l.resolved &&
        !e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
      call("array_prepend", Seq(l, e)) },
    // the reference identifies as duckdb to its clients
    "user" -> { case Seq() => Literal("duckdb") },
    "current_user" -> { case Seq() => Literal("duckdb") },
    "session_user" -> { case Seq() => Literal("duckdb") },
    // map(keys_list, values_list) builds from the LISTS (DuckDB) —
    // Spark's builtin would make the arrays themselves the keys
    // (r10 audit: map(['a'],[1]) keyed by array<string>)
    "map" -> { case Seq(k, v) if k.resolved && v.resolved &&
        k.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
        v.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
      call("map_from_arrays", Seq(k, v))
    },
    // aggregate(list, 'name') = DuckDB's list_aggregate sugar; the
    // 3/4-arg Spark HOF keeps the fallthrough
    "aggregate" -> { case Seq(l, Literal(fn, _)) if fn != null =>
      listAggregate(l, fn.toString)
    },
    // element_at on a MAP returns the LIST form in DuckDB ([] when
    // absent), like map_extract; arrays keep Spark's builtin via the
    // fallthrough (r10 audit)
    "element_at" -> { case Seq(m, k) if m.resolved &&
        m.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
      mapValueList(m, k)
    },
    // bin/to_binary of a VARCHAR is the bit string of its UTF-8 bytes
    // (bin('abc') = '011000010110001001100011'); numeric bin keeps
    // Spark's builtin via the fallthrough. to_binary must live HERE:
    // Spark 4 has a to_binary builtin (hex decode) that outranks the
    // shim registry (r10 audit)
    "bin" -> { case Seq(s) if s.resolved &&
        s.dataType == org.apache.spark.sql.types.StringType =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "bitsOfString",
        Seq(s), Seq(org.apache.spark.sql.types.StringType))
    },
    "to_binary" -> { case Seq(s) if s.resolved &&
        s.dataType == org.apache.spark.sql.types.StringType =>
      StaticInvoke(graft.engine.expressions.TextKernels.getClass,
        org.apache.spark.sql.types.StringType, "bitsOfString",
        Seq(s), Seq(org.apache.spark.sql.types.StringType))
    },
    "monthname" -> { case Seq(d) =>
      call("date_format", Seq(d, Literal("MMMM"))) },
    // DuckDB regexp_extract(s, re, ['a','b']) — named-group list form
    // returns a STRUCT mapping name i to capture group i+1; integer and
    // 2-arg forms keep Spark's builtin
    "regexp_extract" -> {
      // 2-arg form returns the WHOLE match (group 0) — Spark's builtin
      // defaults to group 1 and errors on groupless patterns (r10 audit)
      case Seq(s, re) => call("regexp_extract", Seq(s, re, Literal(0)))
      case Seq(s, re, NameList(names)) =>
        // DuckDB/RE2 named groups spell (?P<n>…); Java wants (?<n>…) —
        // group INDEXING is what maps names to values, so only literal
        // pattern syntax needs the fixup
        val re2 = re match {
          case Literal(p, org.apache.spark.sql.types.StringType) if p != null =>
            Literal(p.toString.replace("(?P<", "(?<"))
          case other => other
        }
        CreateNamedStruct(names.zipWithIndex.flatMap { case (n, i) =>
          Seq(Literal(n), call("regexp_extract", Seq(s, re2, Literal(i + 1))))
        })
    },
    // DuckDB factorial returns HUGEINT (21!..33! are values, not the
    // NULL Spark's BIGINT builtin degrades to) — DECIMAL(38,0) carrier,
    // same as every other HUGEINT in the dialect (probe batch 6 residual)
    "factorial" -> {
      case Seq(x) => graft.engine.expressions.Factorial38(
        Cast(x, org.apache.spark.sql.types.LongType))
    },
    // DuckDB's concat() FUNCTION skips NULL arguments ('abc' stays
    // 'abc'); the || operator keeps SQL NULL propagation — so only the
    // named function rewrites (to concat_ws(''), which skips NULLs).
    // Guarded to all-string/null args: array concat and Spark's ||
    // (which parses to the Concat EXPRESSION, not this name) untouched.
    "concat" -> {
      case args if args.length >= 2 && args.forall(e => e.resolved &&
          (e.dataType == org.apache.spark.sql.types.StringType ||
            e.dataType == org.apache.spark.sql.types.NullType)) =>
        call("concat_ws", Literal("") +: args)
    },
    // DuckDB left/right accept NEGATIVE n: drop |n| characters from the
    // OTHER end (left('hello', -2) = 'hel'), where Spark answers ''.
    // Probe-pinned; over-drop clamps to ''.
    "left" -> { case Seq(s, n) =>
      val ni = Cast(n, org.apache.spark.sql.types.IntegerType)
      CaseWhen(Seq((LessThan(ni, Literal(0)),
        Substring(s, Literal(1),
          call("greatest", Seq(Add(Length(s), ni), Literal(0)))))),
        Substring(s, Literal(1), ni))
    },
    "right" -> { case Seq(s, n) =>
      val ni = Cast(n, org.apache.spark.sql.types.IntegerType)
      CaseWhen(Seq(
        (LessThan(ni, Literal(0)),
          Substring(s, Subtract(Literal(1), ni), Literal(Int.MaxValue))),
        (EqualTo(ni, Literal(0)), Literal(""))),
        Substring(s, UnaryMinus(ni), Literal(Int.MaxValue)))
    },
    // DuckDB skewness/kurtosis are SAMPLE statistics (bias-corrected),
    // Spark's builtins are population ones — probe-18 found the silent
    // value divergence. Corrections (standard, e.g. the g1→G1 and
    // g2→G2 formulas): G1 = g1·√(n(n−1))/(n−2) with n≥3;
    // G2 = (n−1)/((n−2)(n−3)) · ((n+1)·g2 + 6) with n≥4. Zero-variance
    // groups answer NULL like DuckDB (Spark yields NaN).
    "skewness" -> { case Seq(x) =>
      val xd = Cast(x, org.apache.spark.sql.types.DoubleType)
      val g1 = new org.apache.spark.sql.catalyst.expressions.aggregate
        .Skewness(xd).toAggregateExpression()
      val n = Cast(org.apache.spark.sql.catalyst.expressions.aggregate
        .Count(Seq(xd)).toAggregateExpression(),
        org.apache.spark.sql.types.DoubleType)
      val corrected = Multiply(g1, Divide(
        Sqrt(Multiply(n, Subtract(n, Literal(1.0)))),
        Subtract(n, Literal(2.0))))
      nullifyBelow(corrected, n, 3.0)
    },
    "kurtosis" -> { case Seq(x) =>
      val xd = Cast(x, org.apache.spark.sql.types.DoubleType)
      val g2 = new org.apache.spark.sql.catalyst.expressions.aggregate
        .Kurtosis(xd).toAggregateExpression()
      val n = Cast(org.apache.spark.sql.catalyst.expressions.aggregate
        .Count(Seq(xd)).toAggregateExpression(),
        org.apache.spark.sql.types.DoubleType)
      val corrected = Multiply(
        Divide(Subtract(n, Literal(1.0)),
          Multiply(Subtract(n, Literal(2.0)), Subtract(n, Literal(3.0)))),
        Add(Multiply(Add(n, Literal(1.0)), g2), Literal(6.0)))
      nullifyBelow(corrected, n, 4.0)
    },
    // DuckDB dayofweek/weekday number SUNDAY = 0 (probe-20: Tuesday is
    // 2, not Spark's 3); every internal helper that needs Spark's
    // Monday-0 constructs the WeekDay kernel directly, never this name.
    // VARCHAR args get DuckDB's implicit cast-to-DATE first (ADVICE r9:
    // a string fell through to the builtin's Sunday-1 numbering).
    "dayofweek" -> sundayZeroDow,
    "weekday" -> sundayZeroDow,
    // make_timestamp(µs): the 1-arg epoch-micros form (probe-20);
    // the 6-arg constructor keeps Spark's builtin via the fallthrough
    "make_timestamp" -> { case Seq(us) if us.resolved &&
        us.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
      Cast(call("timestamp_micros", Seq(Cast(us,
        org.apache.spark.sql.types.LongType))),
        org.apache.spark.sql.types.TimestampNTZType)
    },
    // full-Unicode chr: Spark's builtin truncates the code point to
    // latin-1 (chr(8364) must be '€', probe-19)
    "chr" -> { case Seq(n) =>
      StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
        org.apache.spark.sql.types.StringType, "chr",
        Seq(Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.LongType))
    },
    "char" -> { case Seq(n) =>
      StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
        org.apache.spark.sql.types.StringType, "chr",
        Seq(Cast(n, org.apache.spark.sql.types.LongType)),
        Seq(org.apache.spark.sql.types.LongType))
    },
    // DuckDB typeof answers DUCKDB type spellings ('VARCHAR', 'BIGINT')
    // — Spark's builtin answers Spark names ('string'); the expression
    // shares the catalog view's spelling table so both agree
    "typeof" -> { case Seq(x) => graft.engine.expressions.DuckTypeOf(x) },
    // printf/format_string: JVM String.format rejects %f/%e/%g fed a
    // Decimal ('f != Decimal') — cast decimal args to DOUBLE — and its
    // %f rounds the SHORTEST decimal repr half-up where C/DuckDB round
    // the exact binary value (fuzz-found on -37.0755 at %.3f): %f args
    // pre-round on the exact value (cFormatArgs), making Java's
    // formatting exact
    "printf" -> {
      case (fmt @ Literal(f, org.apache.spark.sql.types.StringType)) +: rest
          if f != null =>
        FormatString((fmt +: cFormatArgs(f.toString, rest)): _*)
    },
    "format_string" -> {
      case (fmt @ Literal(f, org.apache.spark.sql.types.StringType)) +: rest
          if f != null =>
        FormatString((fmt +: cFormatArgs(f.toString, rest)): _*)
    },
    // DuckDB 2-arg reduce(list, lambda) = list_reduce (no init, folds
    // from the head); Spark's native 3/4-arg reduce keeps resolving
    // through the fallthrough
    "reduce" -> { case Seq(l, f: LambdaFunction) =>
      ArrayAggregate(
        call("slice", Seq(l, Literal(2),
          Subtract(call("size", Seq(l)), Literal(1)))),
        call("element_at", Seq(l, Literal(1))),
        f, lam(vs => vs(0), 1))
    },
    // 1-arg numeric trunc (toward zero): x - mod(x, 1) keeps the
    // carrier type (floor(double) would degrade to BIGINT); Spark's
    // native 2-arg date trunc keeps working through the fallthrough
    "trunc" -> { case Seq(x) =>
      Subtract(x, call("mod", Seq(x, Literal(1))))
    },
    // top-n aggregate variants: min(x, n)/max(x, n) return a LIST of
    // the n extremes (DuckDB ≥1.1 surface; beyond the 1.0 oracle but a
    // staple of data-pipeline SQL). A constant n routes to the
    // bounded-state BoundedTopNAgg (r11 — the collect-then-sort
    // spelling buffers the WHOLE group per key, an OOM cliff at scale);
    // the rare non-constant n keeps the collect+sort fallback. NULLs
    // are skipped either way, like min/max.
    "min" -> { case Seq(x, n) => topN(x, n, desc = false) },
    "max" -> { case Seq(x, n) => topN(x, n, desc = true) },
    // contains() over lists/maps (DuckDB ≥1.1 sugar; string form stays
    // native through the fallthrough)
    "contains" -> {
      case Seq(l, x) if l.resolved &&
          l.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        call("array_contains", Seq(l, x))
      case Seq(m, k) if m.resolved &&
          m.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] =>
        call("map_contains_key", Seq(m, k))
    },
    // DuckDB length() also measures lists/maps (len alias territory);
    // Spark's builtin is string/binary-only — dispatch on resolved type
    "length" -> {
      // BIGINT on every input kind like DuckDB (fuzz: typeof(length(s))
      // exposed Spark's INT on strings); LenAny counts chars/elements
      case Seq(x) if x.resolved &&
          (x.dataType == org.apache.spark.sql.types.StringType ||
            x.dataType == org.apache.spark.sql.types.BinaryType ||
            x.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
            x.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]) =>
        graft.engine.expressions.LenAny(x)
    },
    // DuckDB repeat() also repeats LISTs; dispatch on the resolved type
    "repeat" -> {
      case Seq(x, n) if x.resolved &&
          x.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        call("flatten", Seq(call("array_repeat",
          Seq(x, Cast(n, org.apache.spark.sql.types.IntegerType)))))
      case Seq(x, n) => StringRepeat(x, n)
    },
    // DuckDB regexp_replace: flagless replaces the FIRST match only
    // (Spark's builtin replaces all — probe batch 14 caught the value
    // divergence); the options string adds g/i/s/m/n/p/l/c, and
    // replacement backrefs use RE2 `\1` syntax. All of it lives in the
    // RegexOps kernel (StaticInvoke, codegen-resident, memoized
    // pattern compile).
    "regexp_replace" -> {
      case Seq(s, re, rep) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          graft.engine.expressions.RegexOps.getClass,
          org.apache.spark.sql.types.StringType, "replace",
          Seq(s, re, rep, Literal("")),
          Seq.fill(4)(org.apache.spark.sql.types.StringType))
      case Seq(s, re, rep, flags) =>
        org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke(
          graft.engine.expressions.RegexOps.getClass,
          org.apache.spark.sql.types.StringType, "replace",
          Seq(s, re, rep, flags),
          Seq.fill(4)(org.apache.spark.sql.types.StringType))
    },
    // DuckDB date_add(d, INTERVAL): Spark's builtin takes int days —
    // dispatch on the resolved interval type, keep the int form native.
    // Numeric-first args are the duck MACRO's plain addition (r10
    // audit stage 3: date_add(3, 3) = 6).
    "date_add" -> {
      case Seq(d, iv) if iv.resolved &&
          (iv.dataType == org.apache.spark.sql.types.CalendarIntervalType ||
            iv.dataType.isInstanceOf[org.apache.spark.sql.types.DayTimeIntervalType] ||
            iv.dataType.isInstanceOf[org.apache.spark.sql.types.YearMonthIntervalType]) =>
        Add(d, iv)
      case Seq(d, n) if d.resolved &&
          d.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        Add(d, n)
      case Seq(d, n) => DateAdd(d, n)
    },
    "datediff" -> {
      // DuckDB 3-arg (part, a, b) = boundary crossings; Spark 2-arg
      // datediff(end, start) keeps its builtin meaning
      case Seq(Literal(part, _), a, b) => boundaryDiff(part.toString, a, b)
      case Seq(end, start) => DateDiff(end, start)
    },
    "encode" -> {
      // DuckDB 1-arg encode(string) → blob; Spark 2-arg keeps charset form
      case Seq(e) => Cast(e, org.apache.spark.sql.types.BinaryType)
      case Seq(s, cs) => Encode(s, cs)
    },
    // DuckDB bit_count on a BIT ('0'/'1' string): count set bits; the
    // integral forms keep Spark's native builtin via fallback
    "bit_count" -> { case Seq(e) if e.resolved &&
        e.dataType == org.apache.spark.sql.types.StringType =>
      Cast(call("length", Seq(call("replace",
        Seq(e, Literal("0"), Literal(""))))),
        org.apache.spark.sql.types.LongType)
    },
    "len" -> { case Seq(e) =>
      // Spark aliases len → length (string/binary only); DuckDB's len is
      // primarily list length — dispatch on the resolved input type
      graft.engine.expressions.LenAny(e)
    },
    "decode" -> {
      // DuckDB 1-arg decode(blob) → varchar; Spark 2-arg keeps charset form
      case Seq(e) => StringDecode(e, Literal("UTF-8"))
      case Seq(b, cs) => StringDecode(b, cs)
    },
    "regexp_extract_all" -> {
      // DuckDB default group is 0 (the whole match); Spark's is 1
      case Seq(s, re) => RegExpExtractAll(s, re, Literal(0))
      case Seq(s, re, idx) => RegExpExtractAll(s, re, idx)
    },
    "range" -> {
      // DuckDB range() in scalar position returns a LIST, stop
      // EXCLUSIVE; Spark sequence() is inclusive and auto-reverses on
      // start > stop, so the empty range needs an explicit guard
      // (slice(seq, 1, 0) is the typed empty list)
      case Seq(stop) => rangeList(Literal(0L), stop, Literal(1L))
      case Seq(start, stop) => rangeList(start, stop, Literal(1L))
      // range(TIMESTAMP, TIMESTAMP, INTERVAL): stop-exclusive = inclusive
      // sequence to (stop − 1 microsecond). Positive steps only (the
      // DuckDB-documented form); literals arrive typed, so the dispatch
      // is static.
      case Seq(start, stop, step)
          if Seq(start, stop).exists(e => e.resolved &&
            (e.dataType == org.apache.spark.sql.types.TimestampType ||
              e.dataType == org.apache.spark.sql.types.TimestampNTZType ||
              e.dataType == org.apache.spark.sql.types.DateType)) =>
        // DATE bounds produce timestamps in DuckDB (range(DATE '…', …,
        // INTERVAL 1 DAY) → TIMESTAMP list) — widen before the sequence
        def ts(e: Expression) = Cast(e, org.apache.spark.sql.types.TimestampType)
        call("sequence", Seq(ts(start),
          Subtract(ts(stop), Literal(
            new org.apache.spark.unsafe.types.CalendarInterval(0, 0, 1L),
            org.apache.spark.sql.types.CalendarIntervalType)), step))
      case Seq(start, stop, step) => rangeList(start, stop, step)
    },
    // DuckDB from_json(json, structure-literal): the second argument is
    // a JSON structure whose leaves are DuckDB type names, e.g.
    // '{"a": "BIGINT"}' — translated to a Spark schema at analysis
    // time; a DDL string second argument keeps Spark's native meaning
    "from_json" -> { case Seq(json, Literal(s, org.apache.spark.sql.types.StringType)) if s != null =>
      val txt = s.toString.trim
      val dt =
        if (txt.startsWith("{") || txt.startsWith("["))
          graft.engine.expressions.JsonIntrospect.structureToType(txt)
        else org.apache.spark.sql.types.DataType.fromDDL(txt)
      JsonToStructs(dt, Map.empty[String, String], json)
    },
    // DuckDB date_part(['year','month'], d) list form → one struct with
    // a field per requested part; the scalar form keeps Spark's builtin
    // EXCEPT where DuckDB's numbering differs (fuzz-found: 'dow' is
    // Sunday=0..Saturday=6 in DuckDB vs Spark's Sunday=1 extract)
    "date_part" -> {
      case Seq(parts, d) if datePartList(parts).isDefined =>
        CreateNamedStruct(datePartList(parts).get.flatMap(p =>
          Seq(Literal(p), duckDatePart(p, d))))
      case Seq(Literal(field, _), it) if field != null &&
          field.toString.equalsIgnoreCase("epoch") && it.resolved &&
          epochOfInterval(it).isDefined =>
        epochOfInterval(it).get
      case Seq(Literal(field, _), d) if field != null =>
        duckDatePart(field.toString, d)
    })

  /** Total seconds of an interval as DOUBLE (DuckDB epoch-of-interval:
    * a month counts 30 days). None when the expression isn't an
    * interval kind this helper knows.
    */
  private def epochOfInterval(it: Expression): Option[Expression] = {
    import org.apache.spark.sql.types._
    it.dataType match {
      case _: DayTimeIntervalType =>
        // canonical micros: cast to the full DAY..SECOND range, then to
        // DECIMAL seconds (Spark's interval↔decimal cast is exact)
        Some(Cast(Cast(Cast(it, DayTimeIntervalType(
          DayTimeIntervalType.DAY, DayTimeIntervalType.SECOND)),
          DecimalType(25, 6)), DoubleType))
      case _: YearMonthIntervalType =>
        // DuckDB normalizes first: full YEARS count 365.25 days
        // (31557600 s), leftover months 30 days (fuzz-found on 85
        // months: 7y*31557600 + 1mo*2592000, not 85*2592000)
        val m = Cast(Cast(it, YearMonthIntervalType(
          YearMonthIntervalType.MONTH, YearMonthIntervalType.MONTH)),
          LongType)
        // integral div + TRUNCATED remainder (not pmod): negative
        // intervals normalize symmetrically (-13 mo = -1y -1mo)
        Some(Cast(Add(
          Multiply(IntegralDivide(m, Literal(12L)), Literal(31557600L)),
          Multiply(Remainder(m, Literal(12L)), Literal(2592000L))), DoubleType))
      case CalendarIntervalType => it match {
        case Literal(iv: org.apache.spark.unsafe.types.CalendarInterval, _) =>
          Some(Literal((iv.months / 12) * 31557600.0 +
            (iv.months % 12) * 2592000.0 + iv.days * 86400.0 +
            iv.microseconds / 1e6))
        case _ => None // non-literal mixed interval: keep native (error)
      }
      case _ => None
    }
  }

  /** fmt-style format string → Java printf form. Handles `{}`, 0-based
    * `{n}`, and the `{[n]:[<>][0][width][,][.prec][type]}` spec subset
    * (probe-pinned examples: {:.2f}→%.2f, {:>6}→%6s, {:06.2f}→%06.2f,
    * {:,}→%,d). None when any spec falls outside the subset — the
    * caller then leaves the native path to error loudly.
    */
  private[engine] def formatToPrintf(fmt: String): Option[String] = {
    val specRe = """\{(\d*)(?::([^{}]*))?\}""".r
    val inner = """([<>]?)(0?)(\d*)(,?)(?:\.(\d+))?([dfFeEgGxXos]?)""".r
    var ok = true
    val out = specRe.replaceAllIn(fmt.replace("%", "%%"), m => {
      val pos = if (m.group(1).nonEmpty) "%" + (m.group(1).toInt + 1) + "$" else "%"
      val spec = Option(m.group(2)).getOrElse("")
      val tail = spec match {
        case "" => Some("s")
        case inner(align, zero, width, comma, prec, typ) =>
          val conv =
            if (typ.nonEmpty) typ
            else if (comma.nonEmpty) "d"
            else if (prec != null) "f"
            else "s"
          // precision on conversions that reject it → unsupported
          if (prec != null && !"fFeEgGs".contains(conv)) None
          else Some((if (align == "<") "-" else "") + zero + width + comma +
            (if (prec != null) "." + prec else "") + conv)
        case _ => None
      }
      tail match {
        case Some(t) => java.util.regex.Matcher.quoteReplacement(pos + t)
        case None => ok = false; ""
      }
    })
    if (ok) Some(out) else None
  }

  /** An expression's JSON TEXT form, dispatched on the RESOLVED type:
    * strings quote/escape via Jackson, containers go through to_json,
    * everything else renders as its SQL text (numbers, booleans).
    * NULL input → SQL NULL (json_quote semantics; constructors wrap in
    * coalesce to get the literal `null` text instead).
    */
  private def jsonVal(x: Expression): Expression = {
    import org.apache.spark.sql.types._
    x.dataType match {
      case StringType =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          StringType, "quoteString", Seq(x), Seq(StringType))
      case _: ArrayType | _: StructType | _: MapType =>
        call("to_json", Seq(x))
      case BooleanType | _: NumericType | NullType => Cast(x, StringType)
      case _ =>
        StaticInvoke(graft.engine.expressions.JsonIntrospect.getClass,
          StringType, "quoteString", Seq(Cast(x, StringType)),
          Seq(StringType))
    }
  }

  /** DuckDB list concatenation skips NULL operands but answers NULL
    * when ALL operands are NULL (probe-19).
    */
  private def nullSkippingListConcat(args: Seq[Expression]): Expression = {
    val anyPresent = args.map(IsNotNull(_): Expression).reduce(Or)
    val skipped = call("concat",
      args.map(a => Coalesce(Seq(a, call("array", Nil)))))
    // no else branch: the all-NULL case answers NULL of the result type
    CaseWhen(Seq((anyPresent, skipped)))
  }

  /** printf argument preparation: decimals become DOUBLE, and every arg
    * feeding an `%[flags][width][.prec]f` conversion is pre-rounded on
    * its EXACT binary value (JsonIntrospect.cRound) so Java's Formatter
    * prints the C-printf digits. Positional (%N$) and sequential
    * conversions both tracked; '%%' skipped.
    */
  private def cFormatArgs(fmt: String, args: Seq[Expression]): Seq[Expression] = {
    val out = args.map {
      case e if e.resolved &&
          e.dataType.isInstanceOf[org.apache.spark.sql.types.DecimalType] =>
        Cast(e, org.apache.spark.sql.types.DoubleType)
      case e => e
    }.toArray
    val conv = """%(?:(\d+)\$)?[-#+ 0,(]*\d*(?:\.(\d+))?([a-zA-Z%])""".r
    var seq = 0
    for (m <- conv.findAllMatchIn(fmt)) {
      val c = m.group(3)
      if (c != "%") {
        val idx =
          if (m.group(1) != null) m.group(1).toInt - 1
          else { val k = seq; seq += 1; k }
        if ((c == "f" || c == "F") && idx >= 0 && idx < out.length) {
          val p = if (m.group(2) != null) m.group(2).toInt else 6
          out(idx) = StaticInvoke(
            graft.engine.expressions.JsonIntrospect.getClass,
            org.apache.spark.sql.types.DoubleType, "cRound",
            Seq(Cast(out(idx), org.apache.spark.sql.types.DoubleType),
              Literal(p)),
            Seq(org.apache.spark.sql.types.DoubleType,
              org.apache.spark.sql.types.IntegerType))
        }
      }
    }
    out.toSeq
  }

  private def sumDouble(x: Expression): Expression =
    call("sum", Seq(Cast(x, org.apache.spark.sql.types.DoubleType)))

  /** DuckDB Sunday-0 day numbering for dayofweek/weekday, including the
    * implicit VARCHAR→DATE cast DuckDB applies (ADVICE r9: a string
    * argument fell through to Spark's Sunday-1/Monday-0 builtins). */
  // def, not val: referenced from `overrides`, which initializes first
  private def sundayZeroDow: PartialFunction[Seq[Expression], Expression] = {
    case Seq(d) if d.resolved &&
        (d.dataType == org.apache.spark.sql.types.DateType ||
          d.dataType == org.apache.spark.sql.types.TimestampType ||
          d.dataType == org.apache.spark.sql.types.TimestampNTZType) =>
      Subtract(DayOfWeek(d), Literal(1))
    case Seq(d) if d.resolved &&
        d.dataType == org.apache.spark.sql.types.StringType =>
      Subtract(DayOfWeek(Cast(d, org.apache.spark.sql.types.DateType)),
        Literal(1))
  }

  /** NULL below the minimum n (sample-statistic domain) and on NaN
    * (Spark's zero-variance answer, where DuckDB serves NULL).
    */
  private def nullifyBelow(e: Expression, n: Expression, min: Double): Expression = {
    val nul = Cast(Literal(null), org.apache.spark.sql.types.DoubleType)
    CaseWhen(Seq(
      (LessThan(n, Literal(min)), nul),
      (IsNaN(e), nul)), e)
  }

  /** list_grade_up core: 1-based positions that would sort the list
    * ascending — sort (value, index) pairs, project the indices. Shared
    * by the list_/array_/bare spellings (r10 audit). NULL elements
    * grade LAST in original order (DuckDB: grade_up([2,NULL,1]) is
    * [3,1,2]) — Spark's struct ordering puts a null field FIRST, so the
    * null-valued pairs are split out and appended unsorted. */
  private def gradeUp(l: Expression): Expression = {
    def vField(s: Expression) = org.apache.spark.sql.catalyst.analysis
      .UnresolvedExtractValue(s, Literal("v"))
    // BIGINT indices (duck grade_up answers BIGINT[], fuzz-pinned)
    val pairs = ZipWith(l,
      call("sequence", Seq(Literal(1L),
        Cast(call("size", Seq(l)), org.apache.spark.sql.types.LongType))),
      lam(vs => CreateNamedStruct(
        Seq(Literal("v"), vs(0), Literal("i"), vs(1))), 2))
    val sortedNonNull = call("array_sort",
      Seq(ArrayFilter(pairs, lam(vs => IsNotNull(vField(vs(0))), 1))))
    val nulls = ArrayFilter(pairs, lam(vs => IsNull(vField(vs(0))), 1))
    ArrayTransform(call("concat", Seq(sortedNonNull, nulls)),
      lam(vs => org.apache.spark.sql.catalyst.analysis
        .UnresolvedExtractValue(vs(0), Literal("i")), 1))
  }

  /** list_where core: keep l[i] where mask[i]. */
  private def listWhere(l: Expression, mask: Expression): Expression =
    ArrayTransform(
      ArrayFilter(
        ZipWith(l, mask, lam(vs => CreateNamedStruct(
          Seq(Literal("v"), vs(0), Literal("m"), vs(1))), 2)),
        lam(vs => org.apache.spark.sql.catalyst.analysis
          .UnresolvedExtractValue(vs(0), Literal("m")), 1)),
      lam(vs => org.apache.spark.sql.catalyst.analysis
        .UnresolvedExtractValue(vs(0), Literal("v")), 1))

  /** list_select core: elements of l at the (1-based) idxs. */
  private def listSelect(l: Expression, idxs: Expression): Expression =
    ArrayTransform(idxs,
      lam(vs => graft.engine.expressions.SubscriptAny(l, vs(0)), 1))

  /** strptime with DuckDB's C-epoch field defaults (absent fields →
    * 1900-01-01 00:00:00, not the JDK's 1970) — TextKernels kernel,
    * NTZ result. Shared by strptime (loud on mismatch) and
    * try_strptime (TryEval-wrapped → NULL). */
  private def strptime1900(s: Expression, duckFmt: String): Expression =
    Cast(call("timestamp_micros", Seq(StaticInvoke(
      graft.engine.expressions.TextKernels.getClass,
      org.apache.spark.sql.types.LongType, "strptimeMicros",
      Seq(s, Literal(Dialect.strftimeToJava(duckFmt))),
      Seq(org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)))),
      org.apache.spark.sql.types.TimestampNTZType)

  /** DuckDB map value access: a LIST of the value, [] when absent —
    * shared by map_extract and the map-typed element_at override. */
  private def mapValueList(m: Expression, k: Expression): Expression =
    call("if", Seq(call("map_contains_key", Seq(m, k)),
      call("array", Seq(ElementAt(m, k))),
      call("slice", Seq(call("map_values", Seq(m)), Literal(1), Literal(0)))))

  /** list_aggregate core: named aggregate over a list — shared by the
    * list_/array_/aggregate-sugar spellings (r10 audit). */
  private def listAggregate(l: Expression, fn: String): Expression =
    fn match {
      case "sum" => ArrayAggregate(l, Literal(0),
        lam(vs => Add(vs(0), vs(1)), 2),
        lam(vs => vs(0), 1))
      case "min" => call("array_min", Seq(l))
      case "max" => call("array_max", Seq(l))
      case "count" => call("size", Seq(l))
      case other => throw new IllegalArgumentException(
        s"list_aggregate: unsupported '$other'")
    }

  /** list_reduce core: first-element-seeded fold (no synthetic zero
    * literal to mistype the result). */
  private def listReduce(l: Expression, f: LambdaFunction): Expression =
    ArrayAggregate(
      call("slice", Seq(l, Literal(2),
        Subtract(call("size", Seq(l)), Literal(1)))),
      call("element_at", Seq(l, Literal(1))),
      f, lam(vs => vs(0), 1))

  /** list_distance core: euclidean ‖a−b‖. */
  private def listDistance(x: Expression, y: Expression): Expression =
    call("sqrt", Seq(ArrayAggregate(
      ZipWith(vec(x), vec(y),
        lam(vs => Multiply(Subtract(vs(0), vs(1)),
          Subtract(vs(0), vs(1))), 2)),
      Literal(0.0d), lam(vs => Add(vs(0), vs(1)), 2),
      lam(vs => vs(0), 1))))

  /** datesub/date_sub core: complete elapsed `part` units from a to b,
    * signed with datesub(a,b) = −datesub(b,a) (duck-pinned). Month-family
    * parts count calendar months m such that a + m months ≤ b (clamped
    * month arithmetic, identical in both engines), then divide toward
    * zero for quarter/year/…; time parts truncate the microsecond diff
    * toward zero. */
  private def completeDiff(part: String, a: Expression, b: Expression): Expression = {
    val lt = org.apache.spark.sql.types.LongType
    val dt = org.apache.spark.sql.types.DoubleType
    def us(e: Expression) = call("unix_micros", Seq(Cast(e,
      org.apache.spark.sql.types.TimestampType)))
    def microPart(unit: Long) =
      Cast(Divide(Cast(Subtract(us(b), us(a)), dt), Literal(unit.toDouble)), lt)
    def monthIdx(e: Expression) =
      Add(Multiply(Cast(call("year", Seq(e)), lt), Literal(12L)),
        Cast(call("month", Seq(e)), lt))
    // duck-pinned antisymmetry: datesub(a, b) = −datesub(b, a) — the
    // negative direction NEGATES the forward count (Feb 29 → Jan 31 is
    // −1 because Jan 31 → Feb 29 is 1), it is NOT backward-complete
    def fwd(x: Expression, y: Expression): Expression = {
      val raw = Subtract(monthIdx(y), monthIdx(x))
      val shifted = Add(x, call("make_ym_interval",
        Seq(Literal(0), Cast(raw, org.apache.spark.sql.types.IntegerType))))
      If(GreaterThan(shifted, y), Subtract(raw, Literal(1L)), raw)
    }
    def months: Expression =
      If(GreaterThanOrEqual(b, a), fwd(a, b), UnaryMinus(fwd(b, a)))
    def monthPart(div: Long) =
      Cast(Divide(Cast(months, dt), Literal(div.toDouble)), lt)
    part.toLowerCase.stripSuffix("s") match {
      case "microsecond" | "us" | "usec" => microPart(1L)
      case "millisecond" | "ms" | "msec" => microPart(1000L)
      case "second" | "sec" => microPart(1000000L)
      case "minute" | "min" => microPart(60000000L)
      case "hour" | "hr" | "h" => microPart(3600000000L)
      case "day" | "d" => microPart(86400000000L)
      case "week" | "w" => microPart(604800000000L)
      case "month" | "mon" => months
      case "quarter" => monthPart(3)
      case "year" | "y" => monthPart(12)
      case "decade" => monthPart(120)
      case "century" => monthPart(1200)
      case "millennium" | "millennia" => monthPart(12000)
      case other => throw new IllegalArgumentException(
        s"date_sub: unsupported part '$other'")
    }
  }

  private def nullLit: Expression =
    Cast(Literal(null), org.apache.spark.sql.types.StringType)

  /** list_<stat> sugar: the TextKernels.listStat kernel over the list
    * cast to DOUBLE[] (nulls skipped inside). */
  private def listStat(l: Expression, stat: String): Expression =
    StaticInvoke(graft.engine.expressions.TextKernels.getClass,
      org.apache.spark.sql.types.DoubleType, "listStat",
      Seq(Cast(l, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType)), Literal(stat)),
      Seq(org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StringType))

  /** Nested lambda with DISTINCT variable names — the shared lam()
    * always names variables v0/v1, so a lambda nested inside another
    * would shadow the outer binding (fuzz-found: the histogram counts
    * compared each element to ITSELF and answered size(l) everywhere). */
  private def lamNamed(prefix: String, arity: Int)(
      build: Seq[Expression] => Expression): LambdaFunction = {
    val vars = (0 until arity).map(i =>
      UnresolvedNamedLambdaVariable(Seq(s"$prefix$i")))
    LambdaFunction(build(vars), vars)
  }

  /** Occurrences of outer-bound value `v` in `l` (distinct inner name). */
  private def countOf(l: Expression, v: Expression): Expression =
    call("size", Seq(ArrayFilter(l,
      lamNamed("gx_inner", 1)(ws => EqualTo(ws(0), v)))))

  /** list_mode: most frequent element, smallest on ties — min over
    * (−count, value) pairs picks max count then min value; element-
    * typed result like DuckDB. */
  private def listMode(l: Expression): Expression = {
    val compact = call("array_compact", Seq(l))
    val counted = ArrayTransform(call("array_distinct", Seq(compact)),
      lamNamed("gx_outer", 1)(vs => CreateNamedStruct(Seq(
        Literal("negc"), UnaryMinus(countOf(compact, vs(0))),
        Literal("v"), vs(0)))))
    org.apache.spark.sql.catalyst.analysis.UnresolvedExtractValue(
      call("array_min", Seq(counted)), Literal("v"))
  }

  /** list_histogram: value → count map, keys ascending (BIGINT counts,
    * DuckDB's UBIGINT carrier). */
  private def listHistogram(l: Expression): Expression = {
    val compact = call("array_compact", Seq(l))
    call("map_from_entries", Seq(ArrayTransform(
      call("array_sort", Seq(call("array_distinct", Seq(compact)))),
      lamNamed("gx_outer", 1)(vs => CreateNamedStruct(Seq(
        Literal("key"), vs(0),
        Literal("value"), Cast(countOf(compact, vs(0)),
          org.apache.spark.sql.types.LongType)))))))
  }

  /** list_resize core: truncate to n, or pad with `fill` up to n. */
  private def listResize(l: Expression, n: Expression, fill: Expression): Expression = {
    val ni = Cast(n, org.apache.spark.sql.types.IntegerType)
    val sz = call("size", Seq(l))
    call("concat", Seq(
      call("slice", Seq(l, Literal(1), call("least", Seq(ni, sz)))),
      call("array_repeat", Seq(fill,
        call("greatest", Seq(Subtract(ni, sz), Literal(0)))))))
  }

  /** One 8-byte half of an md5 hex digest as an unsigned 64-bit number,
    * read LITTLE-ENDIAN like DuckDB (the digest half is loaded verbatim
    * from memory there): reverse the 8 hex byte-pairs, then conv() the
    * 16 hex chars unsigned into the DECIMAL(20,0) carrier.
    */
  private def md5HalfLE(hexDigest: Expression, lower: Boolean): Expression = {
    val base = if (lower) 17 else 1
    val pairs = (0 until 8).map { i =>
      call("substring", Seq(hexDigest, Literal(base + 14 - 2 * i), Literal(2)))
    }
    Cast(call("conv", Seq(call("concat", pairs), Literal(16), Literal(10))),
      org.apache.spark.sql.types.DecimalType(20, 0))
  }

  /** Jan 1 of the year floored to a multiple of n — DuckDB 1.0's
    * date_trunc('decade'/'century'/'millennium') convention (simple
    * modulo, value-pinned: century of 2000-06-15 is DATE '2000-01-01').
    */
  private def yearFloorDate(x: Expression, n: Int): Expression = {
    val y = call("year", Seq(x))
    call("make_date",
      Seq(Subtract(y, Pmod(y, Literal(n))), Literal(1), Literal(1)))
  }

  /** date_part field with DuckDB's numbering/extras; falls back to
    * Spark's extract for the parts the two agree on.
    */
  private def duckDatePart(field: String, d: Expression): Expression =
    field.toLowerCase match {
      case "dow" | "dayofweek" | "weekday" =>
        Subtract(DayOfWeek(d), Literal(1)) // Sunday = 0
      case "isodow" => Add(WeekDay(d), Literal(1)) // Monday = 1
      case "century" => call("century", Seq(d))
      case "decade" => Cast(call("floor", Seq(Divide(
        Cast(call("year", Seq(d)), org.apache.spark.sql.types.DoubleType),
        Literal(10.0)))), org.apache.spark.sql.types.LongType)
      case "millennium" => Cast(call("ceil", Seq(Divide(
        Cast(call("year", Seq(d)), org.apache.spark.sql.types.DoubleType),
        Literal(1000.0)))), org.apache.spark.sql.types.LongType)
      case "epoch" => Cast(call("unix_timestamp",
        Seq(Cast(d, org.apache.spark.sql.types.TimestampType))),
        org.apache.spark.sql.types.DoubleType) // DuckDB: DOUBLE seconds
      case "yearweek" => call("yearweek", Seq(d))
      case other => DatePart.parseExtractField(other, d)
    }

  /** The part names of a `['year','month']`-style literal list argument
    * (pre-analysis: an unresolved array(...) call of string literals).
    */
  private def datePartList(e: Expression): Option[Seq[String]] = e match {
    case UnresolvedFunction(Seq(n), args, _, _, _, _, _)
        if n.equalsIgnoreCase("array") && args.nonEmpty &&
          args.forall { case Literal(s, _) => s != null; case _ => false } =>
      Some(args.map { case Literal(s, _) => s.toString })
    case CreateArray(args, _) if args.nonEmpty &&
        args.forall { case Literal(s, _) => s != null; case _ => false } =>
      Some(args.map { case Literal(s, _) => s.toString })
    case _ => None
  }

  /** n constant and sane → the bounded-state top-n aggregate; anything
    * else → the collect+sort+slice spelling (identical values — the
    * aggregate's ordering IS catalyst natural ordering, what
    * sort_array applies). With `extract` the input is the argN
    * struct<k, x> pair and the result is the array of x alone — fused
    * into the aggregate on the constant-n path so the AGGREGATE is the
    * call root and `arg_min/arg_max(a, v, n) OVER w` resolves natively
    * (a transform-over-aggregate root is planned by
    * ExtractWindowExpressions as a missing-GROUP-BY aggregate query).
    */
  private def topN(x: Expression, n: Expression, desc: Boolean,
      extract: Boolean = false): Expression = {
    def extractX(arr: Expression): Expression =
      ArrayTransform(arr, lam(vs => org.apache.spark.sql.catalyst.analysis
        .UnresolvedExtractValue(vs(0), Literal("x")), 1))
    val intish = n.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    // a foldable NULL or non-positive n is a DuckDB invalid-input error
    // (1.1 minmax_n raises, it does not return NULL/[]): emit the
    // collect spelling with the LENGTH argument replaced by a
    // raise_error — the output type still resolves to array<typeof x>
    // (argN's ArrayTransform needs that), and the error fires the
    // moment the final projection evaluates, instead of the slice
    // fallback silently answering NULL/[] where DuckDB raises
    if (n.foldable && intish) {
      val v = Option(n.eval()).map(_.toString.toLong)
      if (v.isEmpty || v.exists(_ < 1)) {
        val raising = call("slice", Seq(
          call("sort_array", Seq(call("collect_list", Seq(x)))),
          Literal(1),
          Cast(call("raise_error", Seq(Literal(
            "Invalid input: n value must be > 0"))),
            org.apache.spark.sql.types.IntegerType)))
        return if (extract) extractX(raising) else raising
      }
    }
    val const: Option[Int] =
      if (n.foldable && intish) {
        Option(n.eval()).map(_.toString.toLong)
          .filter(v => v <= 10000000L).map(_.toInt)
      } else None
    const match {
      // explicit AggregateExpression wrap: the analyzer only wraps a
      // raw AggregateFunction when it is the ROOT of a resolved
      // function call, and these builders aren't that root
      case Some(k) =>
        graft.engine.expressions.BoundedTopNAgg(x, k, desc, extract)
          .toAggregateExpression()
      case None =>
        val sliced = call("slice", Seq(
          if (desc) call("sort_array", Seq(call("collect_list", Seq(x)),
            Literal(false)))
          else call("sort_array", Seq(call("collect_list", Seq(x)))),
          Literal(1), n))
        if (extract) extractX(sliced) else sliced
    }
  }

  /** arg_min/arg_max: 2-arg = Spark min_by/max_by (single-pass); 3-arg
    * DuckDB top-n form = the n args at the smallest/largest vals —
    * bounded top-n over the (val, arg) pair struct (the sort key first,
    * so struct natural ordering sorts by val, ties by arg), with the
    * arg extraction FUSED into the aggregate's result on the
    * constant-n path (keeps the aggregate at the call root — the
    * `OVER w` form then works like min/max(x, n) OVER w).
    */
  private def argN(a: Seq[Expression], desc: Boolean): Expression = a match {
    case Seq(arg, v) => call(if (desc) "max_by" else "min_by", Seq(arg, v))
    case Seq(arg, v, n) =>
      val pair = CreateNamedStruct(Seq(Literal("k"), v, Literal("x"), arg))
      topN(pair, n, desc, extract = true)
  }

  /** Value → BIT ('0'/'1' STRING): strings validate, integers render
    * their two's-complement pattern at source width (DuckDB cast
    * semantics: INT → 32 bits, BIGINT → 64). The assert_true wrapper
    * makes an invalid string a runtime conversion error (DuckDB-like
    * message), not a silent pass-through.
    */
  private def bitOf(e: Expression): Expression = {
    import org.apache.spark.sql.types._
    e.dataType match {
      case ByteType | ShortType | IntegerType =>
        call("lpad", Seq(call("bin", Seq(
          BitwiseAnd(Cast(e, LongType), Literal(0xFFFFFFFFL)))),
          Literal(32), Literal("0")))
      case LongType =>
        call("lpad", Seq(call("bin", Seq(e)), Literal(64), Literal("0")))
      case _ =>
        Coalesce(Seq(
          Cast(call("assert_true", Seq(RLike(e, Literal("^[01]+$")),
            Concat(Seq(Literal("Invalid character encountered in string " +
              "-> bit conversion: '"), e, Literal("'"))))), StringType),
          Cast(e, StringType)))
    }
  }

  /** DuckDB bitstring_agg(x[, lo, hi]): a BIT with bit v−lo set for
    * every DISTINCT value v — ONE collect_set aggregation, then a pure
    * fold over the sorted set (runs of '0' emitted between consecutive
    * values), so the kernel never materializes a position-per-bit
    * relation. Defaults lo/hi to min(x)/max(x) like DuckDB.
    */
  private def bitstringAgg(x: Expression, lo: Expression, hi: Expression): Expression = {
    import org.apache.spark.sql.types._
    def fld(st: Expression, name: String) =
      org.apache.spark.sql.catalyst.analysis
        .UnresolvedExtractValue(st, Literal(name))
    val sorted = call("array_sort", Seq(call("collect_set", Seq(x))))
    val st0 = CreateNamedStruct(Seq(
      Literal("prev"), Subtract(Cast(lo, LongType), Literal(1L)),
      Literal("acc"), Literal("")))
    val merge = lam(vs => {
      val (st, v) = (vs(0), vs(1))
      CreateNamedStruct(Seq(
        Literal("prev"), Cast(v, LongType),
        Literal("acc"), Concat(Seq(fld(st, "acc"),
          call("repeat", Seq(Literal("0"),
            Cast(Subtract(Subtract(Cast(v, LongType), fld(st, "prev")),
              Literal(1L)), IntegerType))),
          Literal("1")))))
    }, 2)
    val finish = lam(vs => fld(vs(0), "acc"), 1)
    val folded = call("aggregate", Seq(sorted, st0, merge, finish))
    // tail zeros to hi (empty when hi defaults to max(x))
    Concat(Seq(folded, call("repeat", Seq(Literal("0"),
      Cast(Subtract(Cast(hi, LongType), Cast(call("max", Seq(x)), LongType)),
        IntegerType)))))
  }

  /** DuckDB list_sort flag mapping (see shim above). */
  private def listSorted(l: Expression, order: String,
      nullOrder: String): Expression = {
    val desc = order.trim.equalsIgnoreCase("DESC")
    val nullsFirst = nullOrder.trim.toUpperCase.contains("FIRST")
    (desc, nullsFirst) match {
      case (false, false) => call("array_sort", Seq(l))
      case (false, true) => call("sort_array", Seq(l, Literal(true)))
      case (true, false) => call("sort_array", Seq(l, Literal(false)))
      case (true, true) => call("reverse", Seq(call("array_sort", Seq(l))))
    }
  }

  /** DuckDB-semantics range(start, stop, step): stop-exclusive, empty
    * (not reversed) when the direction is inconsistent.
    */
  private def rangeList(start: Expression, stop: Expression,
      step: Expression): Expression = {
    val seq = call("sequence",
      Seq(start, Subtract(stop, Cast(call("sign", Seq(step)),
        org.apache.spark.sql.types.LongType)), step))
    val nonEmpty = Or(
      And(GreaterThan(step, Literal(0)), LessThan(start, stop)),
      And(LessThan(step, Literal(0)), GreaterThan(start, stop)))
    // the empty branch must not mention `seq`: an inconsistent-direction
    // sequence throws at EVAL (even under constant folding of If), so
    // the typed empty comes from slicing a singleton instead
    If(nonEmpty, seq,
      call("slice", Seq(call("array", Seq(start)), Literal(1), Literal(0))))
  }

  private def hammingExpr(a: Seq[Expression]): Expression = a match {
    case Seq(x, y) =>
      def chars(e: Expression) = call("split", Seq(e, Literal("")))
      call("size", Seq(ArrayFilter(
        ZipWith(chars(x), chars(y),
          lam(vs => Not(EqualTo(vs(0), vs(1))), 2)),
        lam(vs => vs(0), 1))))
    case other => throw new IllegalArgumentException(s"hamming: ${other.length} args")
  }

  /** DuckDB accepts '$.k', '/k', and bare 'k' JSONPaths; Spark needs $. */
  private def normalizeJsonPath(p: Expression): Expression = p match {
    case Literal(s, _) if s != null =>
      val str = s.toString
      val norm =
        if (str.startsWith("$")) str
        else if (str.startsWith("/"))
          // JSON-pointer form: numeric segments index ARRAYS 0-based
          // (probe-19: '/a/1' on {"a":[1,2]} is 2, i.e. $.a[1])
          "$" + str.substring(1).split("/", -1).map { seg =>
            if (seg.nonEmpty && seg.forall(_.isDigit)) s"[$seg]"
            else s".$seg"
          }.mkString
        else "$." + str
      Literal(norm)
    case other => other
  }

  /** Micros in an interval literal (time_bucket widths). Handles both
    * DuckDB-style multi-unit strings (CalendarInterval) and ANSI
    * INTERVAL 'n' DAY literals (DayTimeIntervalType = micros as long).
    */
  private def intervalMicros(e: Expression): Expression = e match {
    case Literal(iv: org.apache.spark.unsafe.types.CalendarInterval, _) =>
      require(iv.months == 0, "time_bucket: month widths unsupported in shim")
      Literal(iv.days * 86400000000L + iv.microseconds)
    case Literal(us: java.lang.Long,
        _: org.apache.spark.sql.types.DayTimeIntervalType) =>
      Literal(us.longValue)
    case other => other
  }

  // Session-identity bookkeeping for register/freeze. Weak keys: a
  // discarded isolated session must not pin its whole SessionState.
  private val registeredSessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())
  private val frozenSessions = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Mark a session as SERVING: from now on `register` refuses to mutate
    * its function registry. Verify/Bench/test harnesses freeze their
    * shared session before any worker thread plans a query, so a
    * DataFrame-API name like `factorial` can never flip resolution
    * mid-run depending on which query registered the dialect first (the
    * round-8 f_math regression: a concurrent `Functions.register` on the
    * shared Verify session silently re-bound `factorial` to the
    * DECIMAL(38,0) HUGEINT carrier while f_math was planning). The
    * dialect surface lives on ISOLATED sessions (Gateway's newSession,
    * or `isolated(...)` below) — never on a frozen shared one.
    */
  def freeze(spark: SparkSession): Unit = synchronized {
    frozenSessions.add(spark)
  }

  def isFrozen(spark: SparkSession): Boolean =
    synchronized { frozenSessions.contains(spark) }

  // One dialect child session per (parent, fixture dir), weak on the
  // parent: building a SessionState per query invocation cost ~0.5 s
  // per bench pass on a16/a17/f_json_introspect. The memoized child
  // only ever receives read-only SQL (no conf mutation), so sharing it
  // across the three dialect queries is safe; different dirs stay in
  // different children (their same-named temp views differ).
  private val isoSessions =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String, SparkSession]]()

  /** A child session with the DuckDB-dialect registry + the named tables
    * (temp views don't cross newSession), for queries whose SQL needs
    * dialect functions without mutating the caller's shared session.
    * Shares the SparkContext, cache, and external catalog. Memoized per
    * (parent, dir); missing tables are registered on demand.
    */
  def isolated(parent: SparkSession, dir: String, tables: String*): SparkSession =
    synchronized {
      val byDir = {
        var m = isoSessions.get(parent)
        if (m == null) { m = scala.collection.mutable.Map(); isoSessions.put(parent, m) }
        m
      }
      val iso = byDir.getOrElseUpdate(dir, {
        val s = parent.newSession()
        s.conf.set("spark.sql.session.timeZone",
          parent.conf.get("spark.sql.session.timeZone", "UTC"))
        register(s)
        s
      })
      tables.foreach(t => if (!iso.catalog.tableExists(t))
        Tables.load(iso, dir, t).createOrReplaceTempView(t))
      iso
    }

  /** Install every shim into the session. Idempotent per-session (a
    * WeakHashMap of already-registered sessions makes re-registration a
    * no-op) and synchronized: two threads registering the same session
    * concurrently see one winner, and a registry can never be observed
    * half-installed. Skips shim names the session already resolves
    * (never shadow a Spark builtin via `shims`; deliberate shadows live
    * in `overrides`). Refuses a FROZEN (serving) session — builtin
    * resolution on a serving session must not depend on query timing.
    */
  def register(spark: SparkSession): Unit = synchronized {
    if (registeredSessions.contains(spark)) return
    if (frozenSessions.contains(spark)) throw new GatewayException(
      "function registry is frozen on this serving session; register the " +
        "dialect on an isolated session (Functions.isolated / Gateway) " +
        "before the session starts serving")
    val reg = spark.sessionState.functionRegistry
    shims.foreach { case (name, builder) =>
      val already = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
        .builtin.functionExists(FunctionIdentifier(name))
      if (!already) {
        // a shim builder that doesn't match the argument shape (e.g. a
        // non-literal flag where the dialect requires a literal) must
        // surface as a diagnostic naming the function, not a MatchError
        val safe: Seq[Expression] => Expression = args =>
          try builder(args)
          catch {
            case _: MatchError => throw new GatewayException(
              s"$name: unsupported argument form for ${args.length} " +
                "argument(s) (dialect flags must be string literals)")
          }
        reg.createOrReplaceTempFunction(name, safe, "internal")
      }
    }
    // deliberate builtin shadows (arity-dispatched): argument shapes the
    // shim doesn't claim keep Spark's native builtin behavior, so e.g.
    // 3-arg from_json or from_json(j, schema_of_json(...)) still resolve
    overrides.foreach { case (name, pf) =>
      val native = org.apache.spark.sql.catalyst.analysis.FunctionRegistry
        .builtin.lookupFunctionBuilder(FunctionIdentifier(name))
      val combined: Seq[Expression] => Expression = args =>
        if (pf.isDefinedAt(args)) pf(args)
        else native match {
          case Some(b) => b(args)
          case None => throw new GatewayException(
            s"$name: unsupported argument form for ${args.length} argument(s)")
        }
      reg.createOrReplaceTempFunction(name, combined, "internal")
    }
    registeredSessions.add(spark)
  }
}

package graft.promql

import graft.Tsdb
import graft.model.LabelMatcher
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{abs => cAbs, ceil => cCeil, coalesce, col, floor => cFloor, greatest, least, lit, round}

/** A PromQL-shaped query language compiled onto the engine's operators —
  * the piece the reference explicitly lacks (mandodb README.md:36-40: no
  * query language, callers walk the Go API). A dashboard-style string like
  *
  *   topk(3, sum by (cohort) (click[1h]))
  *
  * parses to a small AST and compiles, by family, onto the engine's
  * composable stages ([[graft.Tsdb.windowedSamples]], then
  * [[graft.Tsdb.gaugeAggregate]] or [[graft.Tsdb.counterAggregate]], then
  * the vector match [[graft.Tsdb.vectorMatch]], …) and the remaining
  * direct Scala operators — so every compiled query
  * inherits their oracle-exact semantics and plan-gated scale shapes
  * (one-shuffle aggregations, pruned scans), and the string front-end
  * adds ZERO new execution paths to audit.
  *
  * Dialect notes (documented divergences, all toward the engine's
  * range-bucket model):
  *
  *  - `metric[d]` inside an aggregation means "tumbling d-second buckets"
  *    (the engine's step grid), not PromQL's instant-vector lookback; the
  *    result carries `bucket_start` like the underlying operators.
  *  - Results keep the operator's full column set (e.g. `sum by`
  *    returns every moment; `sum` is the `sum_v` column) rather than
  *    collapsing to a single `value` — callers are DataFrame users.
  *  - `*_over_time`, `quantile_over_time`, `predict_linear` and
  *    `count_values` accept a trailing `by (labels)` projection clause
  *    (the operators' `byLabels` parameter).
  *  - `/` between two aggregations compiles to the engine's vector match
  *    ([[graft.Tsdb.vectorMatch]], stage (c)) with the ratio rounded to 6
  *    decimals, the engine's cross-engine-reproducible form.
  *
  * Grammar (recursive descent, no dependencies; five left-associative
  * precedence levels matching Prometheus's ladder, loosest first —
  * so `a - b * 100` groups as `a - (b * 100)` and `a or b and c` as
  * `a or (b and c)`; parentheses override):
  * {{{
  * expr      := andExpr ('or' andExpr)*
  * andExpr   := cmpExpr (('and'|'unless') cmpExpr)*
  * cmpExpr   := addSub (('>'|'<'|'>='|'<=') 'bool'? addSub)*
  * addSub    := mulDiv (('+'|'-') matchClause? mulDiv)*
  * mulDiv    := operand (('/'|'*') matchClause? operand)*
  * matchClause := ('on'|'ignoring') '(' labels ')'
  *                ('group_left'|'group_right')?
  * operand   := number | '(' expr ')' | mathFn | aggTerm
  * mathFn    := (abs|ceil|floor|sqrt|sgn|exp|ln|log2|log10) '(' expr ')'
  *            | round '(' expr (',' number)? ')'
  *            | (clamp_min|clamp_max) '(' expr ',' number ')'
  *            | clamp '(' expr ',' number ',' number ')'
  *            | (sort|sort_desc) '(' expr ')'
  *            | (hour|minute|day_of_week|day_of_month|month|year
  *               |timestamp) '(' expr ')'   // of the step grid, UTC
  *            | vector '(' scalar ')'       // rhs of 'or' only (gap fill)
  * aggTerm   := aggOp grouping? '(' aggBody ')' grouping?
  *            | fn '(' args ')' ('by' '(' labels ')')?
  *            | selector
  * grouping  := 'by' '(' labels ')' | 'without' '(' labels ')'
  * aggOp     := sum|avg|min|max|count|stddev|stdvar|group
  *            | topk|bottomk|quantile|count_values|limitk|limit_ratio
  * fn        := rate|increase|delta|resets|changes|irate|idelta|absent
  *            | absent_over_time|predict_linear|histogram_quantile|deriv
  *            | (avg|min|max|sum|count|last)_over_time|quantile_over_time
  *            | (stddev|stdvar)_over_time|present_over_time|mad_over_time
  * labelFn   := (label_replace|label_join) '(' expr (',' string)+ ')'
  * selector  := name ('{' matchers '}')? ('[' duration (':' duration)? ']')?
  *              ('offset' duration)?         // [range:step] = subquery
  * matcher   := label ('='|'!='|'=~'|'!~') quotedString
  * duration  := integer (s|m|h|d|w)?          // bare integer = seconds
  * }}}
  *
  * `without (labels)` resolves to an explicit `by` list at compile time
  * against the metric's label-key universe read from the series
  * DIMENSION (a driver-safe handful of strings at any cardinality).
  */
object PromQL {

  // ---------------------------------------------------------------- AST

  sealed trait Expr
  /** `metric{l="v",…}[rangeSec] offset o` — rangeSec doubles as the step
    * grid when the selector feeds an aggregation. The subquery form
    * `metric[rangeSec:stepSec]` additionally pins the eval-grid step
    * independently of the window (PromQL subquery resolution); only the
    * `*_over_time` family consumes it. */
  final case class Selector(
      metric: String,
      matchers: Seq[LabelMatcher],
      rangeSec: Option[Long],
      offsetSec: Long,
      stepSec: Option[Long] = None,
      atSpec: Option[AtSpec] = None) extends Expr

  /** The `@` evaluation-time modifier on a selector: pins the selector's
    * evaluation instant to a fixed unix time (`x @ 1600000000`), or to the
    * query's own boundaries (`x @ start()` / `x @ end()`). Resolved
    * against the query window in [[query]] BEFORE compilation — the
    * compiler itself never sees one. */
  sealed trait AtSpec
  case object AtStart extends AtSpec
  case object AtEnd extends AtSpec
  final case class AtTime(sec: Long) extends AtSpec
  /** A range-vector function over a selector: rate, increase, resets,
    * the *_over_time family (with optional numeric/first-string args). */
  final case class RangeFn(
      name: String,
      numArg: Option[Double],
      sel: Selector,
      by: Seq[String],
      atSec: Option[Long] = None) extends Expr
  /** A `*_over_time` aggregation over a COMPUTED inner range vector — the
    * nested-subquery form `max_over_time(rate(errors[5m])[1h:1m])` ("peak
    * 5m-rate over the last hour"). The inner expression evaluates on its
    * own sliding grid every `stepSec` (the subquery resolution), and the
    * outer function aggregates those inner points over `rangeSec`-wide
    * lookback windows on the same grid. Only the `*_over_time` family
    * (plus `quantile_over_time(q, …)`, whose q rides in `q`) can sit
    * outside (parser-enforced) and only rate/increase inner vectors
    * compile (compile-enforced, loudly). */
  final case class SubqueryFn(
      fn: String,
      body: Expr,
      rangeSec: Long,
      stepSec: Long,
      q: Option[Double] = None,
      offsetSec: Long = 0L) extends Expr

  /** Prometheus's CANONICAL classic-histogram quantile —
    * `histogram_quantile(phi, sum by (le, l…)(rate(bucket[d])))`: the
    * body aggregates CUMULATIVE bucket-counter rates at (le, labels)
    * grain (the `le` label carries each bucket's upper bound, "+Inf"
    * for the overflow bucket), and the quantile interpolates across the
    * le axis per (labels, grid point) — Prometheus bucketQuantile
    * semantics (promql/quantile.go): linear interpolation inside the
    * crossing bucket, lower bound 0 for the first finite bucket, the
    * highest finite le when the rank lands in +Inf. Distinct from the
    * engine's raw-observation dialect (`RangeFn("histogram_quantile")`,
    * which buckets raw samples at query time). */
  final case class HistQuantileAgg(phi: Double, body: Expr) extends Expr

  /** An aggregation operator with optional parameter (k for topk/bottomk,
    * q for quantile, value-label for count_values). `without` holds the
    * complement clause; it resolves to `by` at compile time against the
    * metric's actual label-key universe (the series dimension). */
  final case class Agg(
      op: String,
      k: Option[Long],
      q: Option[Double],
      by: Seq[String],
      body: Expr,
      without: Seq[String] = Seq.empty) extends Expr
  /** `count_values("lbl", body)` with a non-default output label: purely
    * presentational — the compiled frame is the inner count aggregation
    * with its `value` column surfaced under `lbl`. */
  final case class ValueLabel(label: String, inner: Agg) extends Expr
  /** Binary operation between two vectors, or a vector and a scalar
    * literal. `op` is arithmetic (`/ * + -`), a comparison filter
    * (`> < >= <=`, PromQL drop semantics), or a vector set op
    * (`and or unless`). Division (the dashboard ratio) rounds to 6
    * decimals for cross-engine reproducibility; the exact-DECIMAL ops
    * don't need to. `on` + `groupLeft`/`groupRight` carry the
    * one-to-many / many-to-one matching clause (`A / on (l) group_left
    * B`): the coarse side joins on `on`-labels only and the result
    * keeps the finer side's label set. */
  final case class BinOp(
      op: String,
      lhs: Expr,
      rhs: Expr,
      on: Seq[String] = Seq.empty,
      groupLeft: Boolean = false,
      groupRight: Boolean = false) extends Expr
  /** A scalar literal operand (`… * 100`, `… > 0.5`). */
  final case class NumLit(v: Double) extends Expr
  /** Prometheus `time()`: the evaluation timestamp as a scalar. On this
    * engine's step grid the evaluation time of a row IS its
    * `bucket_start`, so `time()` composes with a vector exactly like a
    * literal whose value is per-step (`x - time()`, `time() > x`). A
    * standalone `time()` with no vector side has no grid to ride and
    * fails loudly through the unsupported-shape path. */
  case object TimeLit extends Expr
  /** A vector match whose clause was written `ignoring (labels)` — the
    * complement form of `on`. Transient: [[resolveWithout]] rewrites it
    * to a [[BinOp]] whose on-labels are the coarse side's grouping minus
    * the ignored labels (the label-set complement evaluated against the
    * AST's own grouping clauses, no data needed), so the compiler only
    * ever sees `on`. */
  final case class IgnoringOp(
      op: String,
      lhs: Expr,
      rhs: Expr,
      ignoring: Seq[String],
      groupLeft: Boolean = false,
      groupRight: Boolean = false,
      bool: Boolean = false) extends Expr
  /** A comparison with the `bool` modifier (`a > bool 0.5`): no rows are
    * dropped — the value column becomes 1.0 where the predicate holds,
    * 0.0 otherwise (Prometheus's 0/1 vector). */
  final case class BoolCmp(
      op: String, lhs: Expr, rhs: Expr,
      on: Seq[String] = Nil, gl: Boolean = false,
      gr: Boolean = false) extends Expr
  /** A pointwise math function over a vector (`abs(v)`, `ceil(v)`,
    * `floor(v)`, `sqrt(v)`, `sgn(v)`, `exp(v)`, `ln(v)`, `log2(v)`,
    * `log10(v)`, `round(v[, to])`, `clamp_min(v, s)`, `clamp_max(v, s)`,
    * `clamp(v, lo, hi)`) — applies to the inner vector's value column,
    * PromQL's instant-vector math family. `num`/`num2` carry the
    * trailing scalar arguments in Prometheus's order. */
  final case class MathFn(
      name: String,
      arg: Expr,
      num: Option[Double] = None,
      num2: Option[Double] = None) extends Expr
  /** A label-set transform over a vector — PromQL's
    * `label_replace(v, dst, replacement, src, regex)` /
    * `label_join(v, dst, sep, src…)` relabeling family. `args` holds
    * the trailing string arguments in Prometheus's order. Compiles to a
    * map-side column rewrite ([[graft.functions.LabelFunctions]]), so
    * relabeling composes with an enclosing aggregation at zero extra
    * shuffles. */
  final case class LabelFn(
      name: String,
      inner: Expr,
      args: Seq[String]) extends Expr

  // ---------------------------------------------------------- tokenizer

  private sealed trait Tok
  private case class Ident(s: String) extends Tok
  private case class Str(s: String) extends Tok
  private case class Num(s: String) extends Tok
  private case class Sym(s: String) extends Tok

  private def tokenize(input: String): List[Tok] = {
    val out = scala.collection.mutable.ListBuffer.empty[Tok]
    var i = 0
    val n = input.length
    while (i < n) {
      val c = input.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c.isLetter || c == '_') {
        // idents additionally accept INTERIOR dots (mandodb-style metric
        // names like cpu.busy — not legal Prometheus, but this engine's
        // reference data uses them); a dot only continues the ident when
        // followed by another ident char, so `sum(x)...` still fails fast
        val j0 = i
        def identChar(ch: Char) =
          ch.isLetterOrDigit || ch == '_' || ch == ':'
        while (i < n && (identChar(input.charAt(i)) ||
          (input.charAt(i) == '.' && i + 1 < n &&
            identChar(input.charAt(i + 1))))) i += 1
        out += Ident(input.substring(j0, i))
      } else if (c.isDigit ||
          (c == '.' && i + 1 < n && input.charAt(i + 1).isDigit)) {
        val j0 = i
        while (i < n && (input.charAt(i).isDigit || input.charAt(i) == '.'))
          i += 1
        // duration unit glued to the number (5m, 1h) stays one token
        if (i < n && "smhdw".indexOf(input.charAt(i)) >= 0 &&
            (i + 1 >= n || !input.charAt(i + 1).isLetterOrDigit)) i += 1
        out += Num(input.substring(j0, i))
      } else if (c == '"') {
        val sb = new StringBuilder
        i += 1
        while (i < n && input.charAt(i) != '"') {
          if (input.charAt(i) == '\\' && i + 1 < n) {
            sb.append(input.charAt(i + 1)); i += 2
          } else { sb.append(input.charAt(i)); i += 1 }
        }
        require(i < n, s"unterminated string in: $input")
        i += 1
        out += Str(sb.toString)
      } else if (c == '!' || c == '=') {
        if (i + 1 < n && (input.charAt(i + 1) == '=' ||
            input.charAt(i + 1) == '~')) {
          out += Sym(input.substring(i, i + 2)); i += 2
        } else { out += Sym(c.toString); i += 1 }
      } else if (c == '<' || c == '>') {
        if (i + 1 < n && input.charAt(i + 1) == '=') {
          out += Sym(input.substring(i, i + 2)); i += 2
        } else { out += Sym(c.toString); i += 1 }
      } else { out += Sym(c.toString); i += 1 }
    }
    out.toList
  }

  private def durationSec(tok: String): Long = {
    val (digits, unit) =
      if (tok.nonEmpty && tok.last.isLetter) (tok.init, tok.last) else (tok, 's')
    val v = digits.toDouble
    val mult = unit match {
      case 's' => 1L; case 'm' => 60L; case 'h' => 3600L
      case 'd' => 86400L; case 'w' => 604800L
      case u => throw new IllegalArgumentException(s"bad duration unit: $u")
    }
    (v * mult).toLong
  }

  // ------------------------------------------------------------- parser

  private val AggOps =
    Set("sum", "avg", "min", "max", "count", "stddev", "stdvar",
      "topk", "bottomk", "quantile", "count_values", "group",
      "limitk", "limit_ratio")
  private val OverTime =
    Set("avg_over_time", "min_over_time", "max_over_time", "sum_over_time",
      "count_over_time", "last_over_time")
  private val SpreadOverTime = Set("stddev_over_time", "stdvar_over_time")
  /** Prometheus 3.x experimental `ts_of_*` family (feature-flagged
    * there, stable here): the timestamp of each window's max/min/last
    * sample. Kept OUT of [[OverTime]] so the subquery/rules dispatch
    * points reject them loudly instead of mis-shaping their frames. */
  private val TsOfFns =
    Set("ts_of_max_over_time", "ts_of_min_over_time", "ts_of_last_over_time")
  private val RangeFns =
    OverTime ++ SpreadOverTime ++ TsOfFns ++
      Set("rate", "increase", "delta", "resets", "changes",
        "absent", "irate", "idelta", "quantile_over_time", "predict_linear",
        "histogram_quantile", "absent_over_time", "deriv",
        "present_over_time", "mad_over_time")
  private val LabelFns = Set("label_replace", "label_join",
    "sort_by_label", "sort_by_label_desc")

  private val MomentAggs = Set("sum", "avg", "min", "max", "count")
  /** Each label aggregation over a plain selector → its
    * [[Tsdb.gaugeAggregate]] op. */
  private val GaugeAggOps = MomentAggs.map(_ -> "moments").toMap ++ Map(
    "stddev" -> "spread", "stdvar" -> "spread", "quantile" -> "quantile",
    "count_values" -> "count_values")
  /** The columns of a top-level `*_over_time` moment function. */
  private val OverTimeCols =
    Seq("n", "sum_v", "avg_v", "min_v", "max_v", "last_v")
  private val ArithOps = Set("/", "*", "+", "-", "%", "^", "atan2")
  private val CmpOps = Set(">", "<", ">=", "<=")
  private val SetOps = Set("and", "or", "unless")
  /** Prometheus's time functions, evaluated on the STEP GRID: the result
    * is the calendar field of each row's `bucket_start` (this engine's
    * grid timestamp), UTC — the business-hours-alerting family. */
  private val TimeFns =
    Set("hour", "minute", "day_of_week", "day_of_month", "day_of_year",
      "days_in_month", "month", "year", "timestamp")
  /** Prometheus's pointwise trig family (values are radians; `deg`/`rad`
    * convert). Double-only transcendentals: the compiled column rounds to
    * 6 decimals so JVM libm vs the oracle's C libm ulp drift can't break
    * exact cross-engine hashing. */
  private val TrigFns =
    Set("sin", "cos", "tan", "asin", "acos", "atan", "sinh", "cosh",
      "tanh", "asinh", "acosh", "atanh", "deg", "rad")
  private val MathFns =
    Set("abs", "ceil", "floor", "sqrt", "sgn", "clamp_min", "clamp_max",
      "clamp", "exp", "ln", "log2", "log10", "round", "sort", "sort_desc",
      "holt_winters", "double_exponential_smoothing", "scalar", "vector") ++
      TimeFns ++ TrigFns

  private final class P(var toks: List[Tok], input: String) {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(
        s"$msg at «${toks.take(4).map(tokText).mkString(" ")}» in: $input")
    private def tokText(t: Tok): String = t match {
      case Ident(s) => s; case Str(s) => "\"" + s + "\""
      case Num(s) => s; case Sym(s) => s
    }
    def peek: Option[Tok] = toks.headOption
    def next(): Tok = toks match {
      case h :: t => toks = t; h
      case Nil => fail("unexpected end of input")
    }
    def expectSym(s: String): Unit = next() match {
      case Sym(`s`) => ()
      case t => fail(s"expected '$s', got '${tokText(t)}'")
    }
    def ident(): String = next() match {
      case Ident(s) => s
      case t => fail(s"expected identifier, got '${tokText(t)}'")
    }

    /** Five precedence levels, Prometheus's ladder (loosest first):
      * `or`, then `and`/`unless`, then comparison filters, then `+ -`,
      * then `* /` — so `a / b > 0.5 and c` groups as `((a/b) > 0.5) and
      * c` and `a - b * 100` as `a - (b * 100)`. Each level is a
      * left-associative loop; parentheses override. */
    def parseExpr(): Expr = {
      var lhs = parseAnd()
      while (peek.contains(Ident("or"))) {
        next()
        lhs = BinOp("or", lhs, parseAnd())
      }
      lhs
    }

    private def parseAnd(): Expr = {
      var lhs = parseCmp()
      while (peek.exists {
          case Ident("and" | "unless") => true; case _ => false }) {
        val op = next() match { case Ident(s) => s; case _ => fail("setop") }
        lhs = BinOp(op, lhs, parseCmp())
      }
      lhs
    }

    private def parseCmp(): Expr = {
      var lhs = parseAddSub()
      while (peek.exists {
          case Sym(">" | "<" | ">=" | "<=") => true; case _ => false }) {
        val op = next() match { case Sym(s) => s; case _ => fail("cmp") }
        // `bool` modifier: 0/1 result instead of PromQL drop semantics
        if (peek.contains(Ident("bool"))) {
          next()
          val (ls, gl, gr, isIg, carry) = parseMatchClause()
          if (carry.nonEmpty)
            fail("bool comparisons do not carry labels — drop the " +
              "group_left/group_right (extra) list")
          // `ignoring (...)` rides the same transient node as the
          // filter/arithmetic form; resolveWithout rewrites it to a
          // BoolCmp with explicit on-labels (pure AST arithmetic)
          lhs =
            if (isIg)
              IgnoringOp(op, lhs, parseAddSub(), ls, gl, gr, bool = true)
            else BoolCmp(op, lhs, parseAddSub(), ls, gl, gr)
        } else {
          // filter compares take the same matching clause as arithmetic:
          // `a > on (l) group_left b`
          val clause = parseMatchClause()
          lhs = matched(op, lhs, parseAddSub(), clause)
        }
      }
      lhs
    }

    // optional matching clause: (on|ignoring) (labels)
    // [group_left|group_right [(carry_labels)]] — `isIgnoring`
    // distinguishes the complement form, resolved to explicit on-labels
    // in [[resolveWithout]]. The carry list is VALIDATED here and then
    // dropped: the engine's "many" result already surfaces every
    // grouping label of the "one" side, so `group_left(extra)` is
    // exactly the shape whose one-side aggregates by on + extra — the
    // annotation is a parse-time contract, not extra AST state (render
    // emits the plain form, which parses and compiles identically).
    private def parseMatchClause()
        : (Seq[String], Boolean, Boolean, Boolean, Seq[String]) =
      if (peek.contains(Ident("on")) || peek.contains(Ident("ignoring"))) {
        val isIgnoring = next() == Ident("ignoring")
        expectSym("(")
        val ls = scala.collection.mutable.ListBuffer(ident())
        while (peek.contains(Sym(","))) { next(); ls += ident() }
        expectSym(")")
        def carryList(): Seq[String] =
          if (peek.contains(Sym("("))) {
            next()
            // `group_left ()` — Prometheus's explicit empty list — is
            // the plain form
            if (peek.contains(Sym(")"))) { next(); Seq.empty }
            else {
              val cs = scala.collection.mutable.ListBuffer(ident())
              while (peek.contains(Sym(","))) { next(); cs += ident() }
              expectSym(")")
              cs.toSeq
            }
          } else Seq.empty
        if (peek.contains(Ident("group_left"))) {
          next(); (ls.toSeq, true, false, isIgnoring, carryList())
        } else if (peek.contains(Ident("group_right"))) {
          next(); (ls.toSeq, false, true, isIgnoring, carryList())
        } else (ls.toSeq, false, false, isIgnoring, Seq.empty)
      } else (Seq.empty, false, false, false, Seq.empty)

    private def matched(op: String, lhs: Expr, rhs: Expr,
        clause: (Seq[String], Boolean, Boolean, Boolean, Seq[String]))
        : Expr = {
      val (ls, gl, gr, isIgnoring, carry) = clause
      if (carry.nonEmpty) {
        // the carried labels must be exactly the "one" side's grouping
        // beyond the match labels (rhs under group_left, lhs under
        // group_right) — anything else would promise labels the engine
        // does not produce, or silently under-describe the output
        if (isIgnoring)
          fail("group_left/group_right carry labels need an explicit " +
            "on (...) clause, not ignoring (...)")
        val one = if (gl) rhs else lhs
        val oneBy = one match {
          case Agg(_, _, _, by, _, _) => by
          case other => fail(s"group_${if (gl) "left" else "right"}" +
            s"(${carry.mkString(", ")}) needs an aggregated " +
            s"${if (gl) "right" else "left"} side, got: $other")
        }
        if ((ls ++ carry).toSet != oneBy.toSet)
          fail(s"group_${if (gl) "left" else "right"}" +
            s"(${carry.mkString(", ")}): the ${if (gl) "right" else
              "left"} side must aggregate by exactly the on-labels plus " +
            s"the carried labels (${(ls ++ carry).mkString(", ")}), " +
            s"got by (${oneBy.mkString(", ")})")
      }
      if (isIgnoring) IgnoringOp(op, lhs, rhs, ls, gl, gr)
      else BinOp(op, lhs, rhs, ls, gl, gr)
    }

    private def parseAddSub(): Expr = {
      var lhs = parseMulDiv()
      while (peek.exists {
          case Sym("+" | "-") => true; case _ => false }) {
        val op = next() match { case Sym(s) => s; case _ => fail("arith") }
        val clause = parseMatchClause()
        lhs = matched(op, lhs, parseMulDiv(), clause)
      }
      lhs
    }

    private def parseMulDiv(): Expr = {
      var lhs = parsePow()
      while (peek.exists {
          case Sym("/" | "*" | "%") => true
          case Ident("atan2") => true // infix operator in PromQL, not a fn
          case _ => false }) {
        val op = next() match {
          case Sym(s) => s; case Ident(s) => s; case _ => fail("arith") }
        val clause = parseMatchClause()
        lhs = matched(op, lhs, parsePow(), clause)
      }
      lhs
    }

    /** `^` binds tightest of the binary ops and is RIGHT-associative
      * (Prometheus: `a ^ b ^ c` = `a ^ (b ^ c)`), hence the recursive
      * rhs instead of a loop. */
    private def parsePow(): Expr = {
      val base = parseOperand()
      if (peek.contains(Sym("^"))) {
        next()
        val clause = parseMatchClause()
        matched("^", base, parsePow(), clause)
      } else base
    }

    /** A term, a parenthesized grouping, or a scalar literal operand
      * (`… * 100`). */
    private def parseOperand(): Expr = peek match {
      case Some(Num(s)) =>
        next()
        val v =
          try s.toDouble
          catch { case _: NumberFormatException =>
            fail(s"scalar operand must be a plain number, got '$s'") }
        NumLit(v)
      case Some(Sym("(")) =>
        next()
        val e = parseExpr()
        expectSym(")")
        e
      case _ => parseTerm()
    }

    private def parseByClause(): Seq[String] = peek match {
      case Some(Ident("by")) =>
        next(); expectSym("(")
        val ls = scala.collection.mutable.ListBuffer(ident())
        while (peek.contains(Sym(","))) { next(); ls += ident() }
        expectSym(")")
        ls.toSeq
      case _ => Seq.empty
    }

    private def parseWithoutClause(): Seq[String] = peek match {
      case Some(Ident("without")) =>
        next(); expectSym("(")
        val ls = scala.collection.mutable.ListBuffer(ident())
        while (peek.contains(Sym(","))) { next(); ls += ident() }
        expectSym(")")
        ls.toSeq
      case _ => Seq.empty
    }

    private def parseTerm(): Expr = peek match {
      // pi() is a zero-arg scalar — folded to its literal at parse time,
      // so it composes everywhere a number does (`v * pi()`)
      case Some(Ident("pi")) =>
        next(); expectSym("("); expectSym(")")
        NumLit(math.Pi)
      case Some(Ident("time")) =>
        next(); expectSym("("); expectSym(")")
        TimeLit
      case Some(Ident(name)) if AggOps(name) =>
        next()
        val byBefore = parseByClause()
        val woBefore = parseWithoutClause()
        expectSym("(")
        var k: Option[Long] = None
        var q: Option[Double] = None
        var valueLabel: Option[String] = None
        name match {
          case "topk" | "bottomk" | "limitk" =>
            next() match {
              case Num(s) => k = Some(s.toLong)
              case t => fail(s"$name needs a leading integer k")
            }
            expectSym(",")
          case "quantile" =>
            next() match {
              case Num(s) => q = Some(s.toDouble)
              case t => fail("quantile needs a leading number q")
            }
            expectSym(",")
          case "limit_ratio" => // signed: a negative r keeps the complement
            val neg = peek.contains(Sym("-"))
            if (neg) next()
            next() match {
              case Num(s) => q = Some(if (neg) -s.toDouble else s.toDouble)
              case t => fail("limit_ratio needs a leading number r")
            }
            expectSym(",")
          case "count_values" =>
            next() match {
              // the engine's count_values groups by the value column
              // itself; a non-default label becomes a ValueLabel rename
              // wrapper around the aggregation at the end of this case
              case Str(s) if s.matches("[a-zA-Z_][a-zA-Z0-9_]*") =>
                valueLabel = Some(s)
              case Str(s) => fail(
                s"""count_values output label "$s" is not a valid """ +
                "label name")
              case t => fail("count_values needs a leading string label")
            }
            expectSym(",")
          case _ => ()
        }
        val body = parseExpr()
        expectSym(")")
        val byAfter = parseByClause()
        val woAfter = parseWithoutClause()
        if (byBefore.nonEmpty && byAfter.nonEmpty)
          fail("duplicate 'by' clause (before and after the body)")
        if (woBefore.nonEmpty && woAfter.nonEmpty)
          fail("duplicate 'without' clause (before and after the body)")
        val by = if (byBefore.nonEmpty) byBefore else byAfter
        val wo = if (woBefore.nonEmpty) woBefore else woAfter
        if (by.nonEmpty && wo.nonEmpty)
          fail("an aggregation takes either 'by' or 'without', not both")
        val agg = Agg(name, k, q, by, body, wo)
        valueLabel match {
          case Some(lbl) if lbl != "value" =>
            if (by.contains(lbl) || wo.contains(lbl) ||
                lbl == "bucket_start" || lbl == "n")
              fail(s"count_values output label '$lbl' collides with an " +
                "output column")
            ValueLabel(lbl, agg)
          case _ => agg
        }

      case Some(Ident(name0)) if MathFns(name0) =>
        next(); expectSym("(")
        // Prometheus 3.x renamed holt_winters; alias HERE — at the
        // function-application site, where the ident is provably in
        // function position — not in the lexer, which would also rename
        // a metric or label literally called double_exponential_smoothing
        val name =
          if (name0 == "double_exponential_smoothing") "holt_winters"
          else name0
        val arg = parseExpr()
        def scalarArg(): Double = next() match {
          case Num(s) =>
            try s.toDouble
            catch { case _: NumberFormatException =>
              fail(s"$name bound must be a plain number, got '$s'") }
          case t => fail(s"$name needs a trailing scalar bound")
        }
        var num: Option[Double] = None
        var num2: Option[Double] = None
        name match {
          case "clamp_min" | "clamp_max" =>
            expectSym(","); num = Some(scalarArg())
          case "clamp" => // clamp(v, lo, hi)
            expectSym(","); num = Some(scalarArg())
            expectSym(","); num2 = Some(scalarArg())
          case "holt_winters" => // holt_winters(v[d], sf, tf)
            expectSym(","); num = Some(scalarArg())
            expectSym(","); num2 = Some(scalarArg())
          case "round" => // round(v[, to]) — `to` defaults to 1
            if (peek.contains(Sym(","))) { next(); num = Some(scalarArg()) }
          case _ => ()
        }
        expectSym(")")
        MathFn(name, arg, num, num2)

      case Some(Ident(name)) if LabelFns(name) =>
        next(); expectSym("(")
        val inner = parseExpr()
        val args = scala.collection.mutable.ListBuffer.empty[String]
        while (peek.contains(Sym(","))) {
          next()
          args += (next() match {
            case Str(s) => s
            case t => fail(s"$name arguments must be quoted strings")
          })
        }
        expectSym(")")
        name match {
          case "label_replace" =>
            require(args.size == 4,
              s"label_replace(v, dst, replacement, src, regex) takes 4 " +
              s"string arguments, got ${args.size}")
          case "label_join" =>
            require(args.size >= 3,
              s"label_join(v, dst, sep, src…) takes at least 3 string " +
              s"arguments, got ${args.size}")
          case _ => // sort_by_label[_desc](v, lbl…)
            require(args.nonEmpty,
              s"$name(v, label…) takes at least 1 label argument")
        }
        LabelFn(name, inner, args.toSeq)

      case Some(Ident(name)) if RangeFns(name) =>
        next(); expectSym("(")
        var numArg: Option[Double] = None
        if (name == "quantile_over_time" || name == "histogram_quantile") {
          next() match {
            case Num(s) => numArg = Some(s.toDouble)
            case t => fail(s"$name needs a leading number")
          }
          expectSym(",")
        }
        // nested subquery: `fn_over_time( <computed-vector>[range:step] )`
        // — the argument is itself a function call, not a bare selector
        val nestedHead = peek.collect { case Ident(n2) => n2 }
        // a parenthesized head is a computed-vector subquery too:
        // `max_over_time((sum(rate(a)) / sum(rate(b)))[1h:5m])` — the
        // binary-op inner needs the parens (as in Prometheus), and a
        // plain selector never starts with one
        // Prometheus's canonical classic-histogram form — an AGGREGATED
        // vector argument with no [R:s]: `histogram_quantile(0.9,
        // sum by (le, cohort)(rate(bucket[5m])))`; shape-validated at
        // compile (sum-by including `le` over rate/increase)
        if (name == "histogram_quantile" &&
            nestedHead.exists(n2 => AggOps(n2))) {
          val body = parseTerm()
          expectSym(")")
          return HistQuantileAgg(numArg.get, body)
        }
        if (nestedHead.exists(n2 =>
            RangeFns(n2) || AggOps(n2) || MathFns(n2) || LabelFns(n2)) ||
            peek.contains(Sym("("))) {
          if (!OverTime(name) && !SpreadOverTime(name) &&
              !SlidingRangeFns(name) &&
              name != "present_over_time" && name != "mad_over_time" &&
              !(name == "quantile_over_time" && numArg.isDefined))
            fail(s"nested subqueries are only supported under the " +
              s"sum/avg/min/max/count/last/quantile/stddev/stdvar/" +
              s"present/mad _over_time family and the counter/trend " +
              s"family (rate/increase/delta/idelta/irate/resets/" +
              s"changes/deriv/predict_linear), not $name")
          // a parenthesized inner is a full expression (the binary-op
          // forms); a bare function head parses as one term
          val body =
            if (peek.contains(Sym("("))) {
              next(); val e = parseExpr(); expectSym(")"); e
            } else parseTerm()
          expectSym("[")
          val rangeSec = next() match {
            case Num(s) => durationSec(s)
            case t => fail("subquery range must be a duration")
          }
          expectSym(":")
          val stepSec = next() match {
            case Num(s) => durationSec(s)
            case t => fail("subquery step must be a duration")
          }
          expectSym("]")
          // `expr[R:s] offset d` — the whole subquery evaluates d back
          var sqOff = 0L
          if (peek.contains(Ident("offset"))) {
            next()
            sqOff = next() match {
              case Num(d) => durationSec(d)
              case t => fail("subquery offset must be a duration")
            }
          }
          // predict_linear(<vector>[R:s], t): the horizon rides the q
          // slot (quantile_over_time's lead-arg slot — the two never
          // coexist on one node)
          var qArg = numArg
          if (name == "predict_linear") {
            expectSym(",")
            qArg = Some(next() match {
              case Num(s) => durationSec(s).toDouble
              case t => fail("predict_linear needs a trailing duration")
            })
          }
          expectSym(")")
          if (parseByClause().nonEmpty)
            fail("a nested subquery derives its grouping from the inner " +
              "expression; drop the trailing 'by'")
          return SubqueryFn(name, body, rangeSec, stepSec, qArg, sqOff)
        }
        val sel = parseSelector()
        var atSec: Option[Long] = None
        if (name == "predict_linear") {
          expectSym(",")
          next() match {
            case Num(s) => atSec = Some(durationSec(s))
            case t => fail("predict_linear needs a trailing duration")
          }
        }
        expectSym(")")
        val by = parseByClause()
        RangeFn(name, numArg, sel, by, atSec)

      case _ => parseSelector()
    }

    def parseSelector(): Selector = {
      val metric = ident()
      val matchers = scala.collection.mutable.ListBuffer.empty[LabelMatcher]
      if (peek.contains(Sym("{"))) {
        next()
        while (!peek.contains(Sym("}"))) {
          val label = ident()
          val op = next() match {
            case Sym(s @ ("=" | "!=" | "=~" | "!~")) => s
            case t => fail("expected a matcher operator")
          }
          val value = next() match {
            case Str(s) => s
            case t => fail("matcher value must be a quoted string")
          }
          matchers += (op match {
            case "=" => LabelMatcher.eq(label, value)
            case "!=" => LabelMatcher.neq(label, value)
            case "=~" => LabelMatcher.re(label, value)
            case "!~" => LabelMatcher.nre(label, value)
          })
          if (peek.contains(Sym(","))) next()
        }
        expectSym("}")
      }
      var rangeSec: Option[Long] = None
      var stepSec: Option[Long] = None
      if (peek.contains(Sym("["))) {
        next()
        rangeSec = Some(next() match {
          case Num(s) => durationSec(s)
          case t => fail("range must be a duration")
        })
        // subquery resolution: [range:step] pins the eval-grid step
        if (peek.contains(Sym(":"))) {
          next()
          stepSec = Some(next() match {
            case Num(s) => durationSec(s)
            case t => fail("subquery step must be a duration")
          })
        }
        expectSym("]")
      }
      // `offset` and `@` may appear in either order (Prometheus allows
      // both `x offset 5m @ end()` and `x @ end() offset 5m`), each at
      // most once
      var offsetSec: Option[Long] = None
      var atSpec: Option[AtSpec] = None
      var more = true
      while (more) peek match {
        case Some(Ident("offset")) =>
          if (offsetSec.isDefined)
            fail("offset may not be set multiple times")
          next()
          offsetSec = Some(next() match {
            case Num(s) => durationSec(s)
            case t => fail("offset must be a duration")
          })
        case Some(Sym("@")) if atSpec.isEmpty =>
          next()
          atSpec = Some(next() match {
            case Ident("start") => expectSym("("); expectSym(")"); AtStart
            case Ident("end") => expectSym("("); expectSym(")"); AtEnd
            // a unix timestamp in seconds (Prometheus accepts floats;
            // this grid is second-resolution)
            case Num(s) => AtTime(s.toDouble.toLong)
            case t => fail("@ needs a unix timestamp, start() or end()")
          })
        case _ => more = false
      }
      Selector(metric, matchers.toSeq, rangeSec, offsetSec.getOrElse(0L),
        stepSec, atSpec)
    }
  }

  /** Render an AST back to its canonical query string — the inverse of
    * [[parse]] (`parse(render(e)) == e` is property-tested). Durations
    * render in seconds; matcher values escape `\` and `"`. */
  def render(e: Expr): String = e match {
    case Selector(metric, ms, range, off, step, at) =>
      val m =
        if (ms.isEmpty) ""
        else ms.map { lm =>
          val op = (lm.isRegex, lm.negate) match {
            case (false, false) => "="
            case (false, true) => "!="
            case (true, false) => "=~"
            case (true, true) => "!~"
          }
          val v = lm.value.replace("\\", "\\\\").replace("\"", "\\\"")
          s"""${lm.name}$op"$v""""
        }.mkString("{", ", ", "}")
      val st = step.map(s => s":${s}s").getOrElse("")
      val r = range.map(s => s"[${s}s$st]").getOrElse("")
      val o = if (off != 0L) s" offset ${off}s" else ""
      val a = at.map {
        case AtStart => " @ start()"
        case AtEnd => " @ end()"
        case AtTime(t) => s" @ $t"
      }.getOrElse("")
      s"$metric$m$r$o$a"
    case RangeFn(name, numArg, sel, by, atSec) =>
      val lead = numArg.map(q => s"$q, ").getOrElse("")
      val at = atSec.map(s => s", ${s}s").getOrElse("")
      val byC = if (by.isEmpty) "" else by.mkString(" by (", ", ", ")")
      s"$name($lead${render(sel)}$at)$byC"
    case SubqueryFn(fn, body, rangeSec, stepSec, q, off) =>
      // binary-op inners re-parse only parenthesized (as in Prometheus)
      val b = body match {
        case _: BinOp => s"(${render(body)})"
        case _ => render(body)
      }
      // the q slot is a LEAD arg for quantile_over_time and a TRAILING
      // horizon for predict_linear — render to the same grammar the
      // parser accepts (parse∘render == id)
      val lead =
        if (fn == "predict_linear") ""
        else q.map(renderNum(_) + ", ").getOrElse("")
      val trail =
        if (fn == "predict_linear")
          q.map(h => s", ${h.toLong}s").getOrElse("")
        else ""
      s"$fn($lead$b[${rangeSec}s:${stepSec}s]" +
        s"${if (off != 0) s" offset ${off}s" else ""}$trail)"
    case HistQuantileAgg(phi, body) =>
      s"histogram_quantile(${renderNum(phi)}, ${render(body)})"
    case ValueLabel(lbl, inner) =>
      // the inner rendering always leads with the conventional "value"
      // label — swap in the custom one
      "count_values(\"" + lbl + "\", " +
        render(inner).stripPrefix("count_values(\"value\", ")
    case Agg(op, k, q, by, body, wo) =>
      val lead = (op, k, q) match {
        case ("count_values", _, _) =>
          // a renamed output label is a ValueLabel wrapper (handled
          // above); a bare count_values carries the conventional "value"
          "\"value\", "
        case (_, Some(kk), _) => s"$kk, "
        case (_, _, Some(qq)) => s"$qq, "
        case _ => ""
      }
      val grouping =
        if (by.nonEmpty) by.mkString(" by (", ", ", ")")
        else if (wo.nonEmpty) wo.mkString(" without (", ", ", ")")
        else ""
      s"$op($lead${render(body)})$grouping"
    case b @ BinOp(op, l, r, on, gl, gr) =>
      val clause =
        if (on.isEmpty) ""
        else on.mkString("on (", ", ", ")") +
          (if (gl) " group_left" else if (gr) " group_right" else "")
      val sep = if (clause.isEmpty) " " else s" $clause "
      // parenthesize a child whose operator binds looser than this one
      // (or as loose, on the associativity-breaking side: right for the
      // left-associative ops, LEFT for right-associative `^`), so
      // parse(render(e)) == e holds across the precedence ladder
      val p = precOf(b)
      def sub(x: Expr, rhs: Boolean): String = {
        val px = precOf(x)
        val breaksAssoc = if (op == "^") !rhs else rhs
        if (px < p || (breaksAssoc && px == p)) s"(${render(x)})"
        else render(x)
      }
      s"${sub(l, rhs = false)} $op$sep${sub(r, rhs = true)}"
    case b @ IgnoringOp(op, l, r, ig, gl, gr, bool) =>
      val clause = ig.mkString("ignoring (", ", ", ")") +
        (if (gl) " group_left" else if (gr) " group_right" else "")
      val p = precOf(b)
      def sub(x: Expr, rhs: Boolean): String = {
        val px = precOf(x)
        if (px < p || (rhs && px == p)) s"(${render(x)})" else render(x)
      }
      val boolMod = if (bool) "bool " else ""
      s"${sub(l, rhs = false)} $op $boolMod$clause ${sub(r, rhs = true)}"
    case b @ BoolCmp(op, l, r, on, gl, gr) =>
      val p = precOf(b)
      def sub(x: Expr, rhs: Boolean): String = {
        val px = precOf(x)
        if (px < p || (rhs && px == p)) s"(${render(x)})" else render(x)
      }
      val clause =
        (if (on.nonEmpty) on.mkString(" on (", ", ", ")") else "") +
        (if (gl) " group_left" else if (gr) " group_right" else "")
      s"${sub(l, rhs = false)} $op bool$clause ${sub(r, rhs = true)}"
    case NumLit(v) => renderNum(v)
    case TimeLit => "time()"
    case MathFn(name, arg, num, num2) =>
      s"$name(${render(arg)}" +
        num.map(n => ", " + renderNum(n)).getOrElse("") +
        num2.map(n => ", " + renderNum(n)).getOrElse("") + ")"
    case LabelFn(name, inner, args) =>
      val quoted = args.map(a =>
        "\"" + a.replace("\\", "\\\\").replace("\"", "\\\"") + "\"")
      s"$name(${render(inner)}, ${quoted.mkString(", ")})"
  }

  /** Binding strength on the parser's ladder — non-BinOp nodes are
    * atoms (self-delimiting), so they never need parentheses. */
  private def precOf(e: Expr): Int = e match {
    case BinOp("or", _, _, _, _, _) => 1
    case BinOp("and" | "unless", _, _, _, _, _) => 2
    case BinOp(op, _, _, _, _, _) if CmpOps(op) => 3
    case _: BoolCmp => 3
    case IgnoringOp(op, _, _, _, _, _, _) if CmpOps(op) => 3
    case BinOp("+" | "-", _, _, _, _, _) => 4
    case IgnoringOp("+" | "-", _, _, _, _, _, _) => 4
    case BinOp("/" | "*" | "%" | "atan2", _, _, _, _, _) => 5
    case IgnoringOp("/" | "*" | "%" | "atan2", _, _, _, _, _, _) => 5
    case BinOp("^", _, _, _, _, _) => 6
    case IgnoringOp("^", _, _, _, _, _, _) => 6
    case _ => 9
  }

  // integral scalars render without the trailing .0 so the canonical
  // string looks like what a user types (`* 100`, not `* 100.0`)
  private def renderNum(v: Double): String =
    if (v == v.floor && !v.isInfinite && v.abs < 1e15) v.toLong.toString
    else v.toString

  /** Parse a query string to its AST (throws IllegalArgumentException with
    * the offending token window on malformed input). */
  def parse(input: String): Expr = {
    val p = new P(tokenize(input), input)
    val e = p.parseExpr()
    p.peek.foreach(_ => p.fail("trailing input"))
    e
  }

  // ----------------------------------------------------------- compiler

  /** A compiled vector: the frame and what it holds. The compile case
    * that builds a frame sets these fields there; every consumer (scalar
    * ops, vector matches, set ops, sorts, [[Rules]]) reads them, never
    * the AST.
    *  - `keys`: the label columns, when the AST fixes them AND the frame
    *    holds at most one row per (keys, time). None when the labels
    *    come from the data: a map-typed `labels` column, a label-key
    *    universe read at compile time, per-series frames.
    *  - `time`: the grid time column, `bucket_start` or `eval_ts`; None
    *    for raw samples and the one-window frames.
    *  - `value`: the single value column, or None.
    *  - `grid`: the (step, offset) the time column lies on.
    *  - `counts`: the frame carries the moment sample count `n` (a
    *    moment aggregation over a selector); a match keeps it as
    *    `n_a` / `n_b`. */
  private[graft] final case class Vec(
      frame: DataFrame,
      keys: Option[Seq[String]],
      time: Option[String],
      value: Option[String],
      grid: Option[(Long, Long)],
      counts: Boolean = false)

  /** Compile and run `input` against `t` over `[start, end]` (epoch
    * seconds), like a Prometheus `query_range` call. The step grid comes
    * from the selector's `[d]` range; for PURE per-step scalar queries
    * (standalone `time()`, literals, their arithmetic) — which have no
    * selector — pass `stepSec` to pin the grid, and get one
    * `(bucket_start, result)` row per step. `histogram_quantile` takes its
    * cumulative bucket bounds from `buckets` when supplied, else from
    * the metric's `le` label domain on the series dimension (the
    * Prometheus convention); the engine buckets raw observations at
    * query time either way. Unsupported compositions fail fast with a
    * shape description, never a wrong answer.
    */
  def query(
      t: Tsdb,
      input: String,
      start: Long,
      end: Long,
      buckets: Seq[Double] = Seq.empty,
      stepSec: Option[Long] = None): DataFrame =
    stepSec match {
      // `stepSec` pins the eval grid for PURE per-step scalar queries —
      // standalone `time()`, number literals, and their arithmetic —
      // which have no selector `[d]` range to derive a grid from
      // (Prometheus's query_range over a scalar expression). Vector
      // queries derive their grid from the selector; passing stepSec
      // with one is rejected loudly rather than silently ignored.
      case Some(st) =>
        require(st > 0, s"stepSec must be positive, got $st")
        val sc = scalarSide(parse(input),
            col("bucket_start").cast("double"))
          .getOrElse(throw new IllegalArgumentException(
            s"stepSec pins the eval grid for pure per-step scalar " +
            s"queries (time(), number literals, their arithmetic); " +
            s"vector queries derive the grid from the selector's [d] " +
            s"range — remove stepSec. Got: $input"))
        evalGrid(t, start, end, st)
          .withColumn("result", sc.cast("double"))
      case None => compileQuery(t, input, start, end, buckets, None).frame
    }

  /** The one compile entry of [[query]], [[queryFromRollup]] and
    * [[Rules]]: parse `input`, check its subquery steps, resolve `@`
    * and `without`, then compile — each once, so a rule reads its
    * grouping, grid and value column from the same [[Vec]] its frame
    * comes from. */
  private[graft] def compileQuery(
      t: Tsdb,
      input: String,
      start: Long,
      end: Long,
      buckets: Seq[Double],
      rollupStep: Option[Long]): Vec = {
    val ast = parse(input)
    validateSubquerySteps(ast)
    val (ast2, s2, e2) = resolveAt(ast, start, end)
    compile(t, resolveWithout(t, ast2), s2, e2, buckets, rollupStep)
  }

  /** Resolve `@` evaluation-time modifiers against the query window.
    * `x @ t` pins the selector's evaluation instant, so the whole query
    * collapses to the single grid bucket at the resolved time — the
    * compiled operators then run with start = end = t, and `offset`
    * composes on top exactly as it does on the moving grid (data read at
    * t − offset). Mixed shapes — some selectors pinned, some not, or two
    * different pinned times — have no single evaluation window and fail
    * loudly rather than evaluating half a query on the wrong grid. */
  private def resolveAt(e: Expr, start: Long, end: Long): (Expr, Long, Long) = {
    def specs(x: Expr): Seq[Option[AtSpec]] = x match {
      case s: Selector => Seq(s.atSpec)
      case RangeFn(_, _, sel, _, _) => specs(sel)
      case SubqueryFn(_, body, _, _, _, _) => specs(body)
      case Agg(_, _, _, _, body, _) => specs(body)
      case BinOp(_, l, r, _, _, _) => specs(l) ++ specs(r)
      case IgnoringOp(_, l, r, _, _, _, _) => specs(l) ++ specs(r)
      case BoolCmp(_, l, r, _, _, _) => specs(l) ++ specs(r)
      case MathFn(_, arg, _, _) => specs(arg)
      case LabelFn(_, inner, _) => specs(inner)
      case ValueLabel(_, inner) => specs(inner)
      case _ => Seq.empty // NumLit / TimeLit
    }
    def strip(x: Expr): Expr = x match {
      case s: Selector => s.copy(atSpec = None)
      case rf @ RangeFn(_, _, sel, _, _) => rf.copy(sel = sel.copy(atSpec = None))
      case sq @ SubqueryFn(_, body, _, _, _, _) => sq.copy(body = strip(body))
      case a @ Agg(_, _, _, _, body, _) => a.copy(body = strip(body))
      case b @ BinOp(_, l, r, _, _, _) => b.copy(lhs = strip(l), rhs = strip(r))
      case i @ IgnoringOp(_, l, r, _, _, _, _) =>
        i.copy(lhs = strip(l), rhs = strip(r))
      case bc @ BoolCmp(_, l, r, _, _, _) =>
        bc.copy(lhs = strip(l), rhs = strip(r))
      case m @ MathFn(_, arg, _, _) => m.copy(arg = strip(arg))
      case lf @ LabelFn(_, inner, _) => lf.copy(inner = strip(inner))
      case vl @ ValueLabel(_, inner) =>
        vl.copy(inner = strip(inner).asInstanceOf[Agg])
      case other => other
    }
    def ranges(x: Expr): Seq[Option[Long]] = x match {
      case s: Selector => Seq(s.rangeSec)
      case RangeFn(_, _, sel, _, _) => ranges(sel)
      case SubqueryFn(_, body, _, _, _, _) => ranges(body)
      case Agg(_, _, _, _, body, _) => ranges(body)
      case BinOp(_, l, r, _, _, _) => ranges(l) ++ ranges(r)
      case IgnoringOp(_, l, r, _, _, _, _) => ranges(l) ++ ranges(r)
      case BoolCmp(_, l, r, _, _, _) => ranges(l) ++ ranges(r)
      case MathFn(_, arg, _, _) => ranges(arg)
      case LabelFn(_, inner, _) => ranges(inner)
      case ValueLabel(_, inner) => ranges(inner)
      case _ => Seq.empty // NumLit / TimeLit
    }
    val ss = specs(e)
    if (ss.forall(_.isEmpty)) (e, start, end)
    else {
      require(ss.forall(_.nonEmpty),
        "@ modifier: every selector in the query must carry one (mixed " +
        "pinned/moving evaluation times have no single grid)")
      val times = ss.flatten.map {
        case AtStart => start
        case AtEnd => end
        case AtTime(t) => t
      }.distinct
      require(times.size == 1,
        s"@ modifier: all selectors must pin the same instant, got $times")
      // the query collapses to the epoch-aligned grid bucket containing
      // the pinned instant (this engine's buckets are wall-aligned:
      // bucket_start = ts − ts % step), so the selector range IS the
      // step and must be present and shared
      val steps = ranges(e).flatten.distinct
      require(steps.size == 1,
        "@ modifier needs ranged selectors sharing one step (the [d] " +
        s"window defines the pinned bucket), got ranges $steps")
      val step = steps.head
      val b0 = times.head - math.floorMod(times.head, step)
      (strip(e), b0, b0 + step - 1)
    }
  }

  /** Serve a bare selector string FROM the Gorilla chunk cold tier
    * ([[graft.Tsdb.queryRangeFromChunks]] — row-identical to the raw
    * store by the codec's identity round-trip). Only selectors compile
    * here: aggregations over the cold tier should decode through this
    * and aggregate in the caller's plan, or use the rollup tier.
    */
  def queryFromChunks(
      t: Tsdb,
      input: String,
      start: Long,
      end: Long): DataFrame =
    parse(input) match {
      case Selector(m, ms, _, off, None, None) =>
        t.queryRangeFromChunks(m, ms, start - off, end - off)
      case other => throw new IllegalArgumentException(
        s"only bare selectors are served from the chunk tier, got: $other")
    }

  /** [[query]], but moment aggregations and ratios are served FROM the
    * materialized rollup tier at `rollupStepSec` instead of raw samples —
    * value-identical for bucket-aligned windows by partial-aggregate
    * associativity (the [[graft.Tsdb.aggregateByFromRollup]] contract).
    * The selector's `[d]` must equal the rollup step: a mismatched grid
    * cannot be served exactly and throws rather than approximating.
    */
  def queryFromRollup(
      t: Tsdb,
      input: String,
      start: Long,
      end: Long,
      rollupStepSec: Long): DataFrame =
    compileQuery(t, input, start, end, Seq.empty, Some(rollupStepSec)).frame

  /** Range functions that accept a [range:step] selector directly —
    * `rate(x[1h:1m])` is a sliding 1h-window rate every minute (the
    * counter family's sliding grid); likewise the whole counter/trend
    * family.
    * Prometheus expresses these as range functions over subqueries;
    * the engine serves them from the same sliding machinery the
    * nested `*_over_time(...[R:s])` family rides. */
  private val SlidingRangeFns =
    Set("rate", "increase", "delta", "idelta", "irate", "resets",
      "changes", "deriv", "predict_linear")

  /** A `[range:step]` subquery step is consumed ONLY by the
    * `*_over_time` family (the eval grid); anywhere else it would be
    * silently ignored — reject it up front, one traversal, no
    * per-shape guard to forget. */
  private def validateSubquerySteps(e: Expr): Unit = e match {
    case RangeFn(fn, _, sel, _, _) =>
      if (sel.stepSec.nonEmpty && !OverTime(fn) && !SpreadOverTime(fn) &&
          !SlidingRangeFns(fn) &&
          fn != "absent_over_time" && fn != "present_over_time")
        throw new IllegalArgumentException(
          s"a [range:step] subquery step is only supported by the " +
          s"*_over_time family and the sliding counter/trend family " +
          s"(${SlidingRangeFns.toSeq.sorted.mkString(", ")}), not $fn")
    case s: Selector =>
      if (s.stepSec.nonEmpty)
        throw new IllegalArgumentException(
          "a [range:step] subquery step is only supported by the " +
          "*_over_time family, not a bare selector or aggregation body")
    case Agg(_, _, _, _, body, _) => validateSubquerySteps(body)
    case SubqueryFn(_, body, _, _, _, _) => validateSubquerySteps(body)
    case HistQuantileAgg(_, body) => validateSubquerySteps(body)
    case BinOp(_, l, r, _, _, _) =>
      validateSubquerySteps(l); validateSubquerySteps(r)
    case IgnoringOp(_, l, r, _, _, _, _) =>
      validateSubquerySteps(l); validateSubquerySteps(r)
    case BoolCmp(_, l, r, _, _, _) =>
      validateSubquerySteps(l); validateSubquerySteps(r)
    // holt_winters consumes a [range:step] subquery step itself (the
    // eval grid), like the *_over_time family
    case MathFn("holt_winters", _: Selector, _, _) => ()
    case MathFn(_, arg, _, _) => validateSubquerySteps(arg)
    case LabelFn(_, inner, _) => validateSubquerySteps(inner)
    case ValueLabel(_, inner) => validateSubquerySteps(inner)
    case _ => () // NumLit / TimeLit: no selector inside
  }

  private def stepOf(sel: Selector, shape: String): Long =
    sel.rangeSec.getOrElse(throw new IllegalArgumentException(
      s"$shape needs a step range on the selector: ${sel.metric}[d]"))

  /** The counter family — `rate` / `increase` of `sel` under `op`
    * (`sum`, a moment or `quantile` `q`) — through its two stages:
    * [[Tsdb.counterSeries]] on the tumbling grid (`grid` None) or the
    * sliding one every `grid`, then [[Tsdb.counterAggregate]]. */
  private def counterFamily(
      t: Tsdb,
      fn: String,
      sel: Selector,
      by: Seq[String],
      op: String,
      start: Long,
      end: Long,
      grid: Option[Long],
      q: Option[Double] = None): Vec = {
    val range = stepOf(sel, s"$op($fn)")
    gridded(Tsdb.counterAggregate(
      t.counterSeries(sel.metric, sel.matchers, start, end, by, range, grid,
        sel.offsetSec),
      by, range, op, rate = fn == "rate", q), sel, range, grid)
  }

  /** The gauge family and the other raw-sample range functions —
    * raw-sample `op` of `sel` (a [[Tsdb.gaugeAggregate]] shape; `shape`
    * names it in errors) — through their two stages:
    * [[Tsdb.windowedSamples]] on the tumbling grid (`grid` None) or the
    * sliding one every `grid`, then [[Tsdb.gaugeAggregate]] per series
    * or at the `by` grain. `resets_changes` pairs each sample with its
    * predecessor before the windowing ([[Tsdb.counterLag]]); `trend`
    * with no grid fits the whole window, so it needs no range. */
  private def gaugeFamily(
      t: Tsdb,
      sel: Selector,
      by: Seq[String],
      op: String,
      shape: String,
      start: Long,
      end: Long,
      grid: Option[Long] = None,
      perSeries: Boolean = false,
      q: Option[Double] = None,
      relabel: Column => Column = identity,
      horizonSec: Long = 0L): Vec = {
    val prep: DataFrame => DataFrame =
      if (op != "resets_changes") identity
      else s => Tsdb.counterLag(s).where(col("prev").isNotNull)
    val whole = op == "trend" && grid.isEmpty
    val range = if (whole) 0L else stepOf(sel, shape)
    val frame = Tsdb.gaugeAggregate(
      t.windowedSamples(sel.metric, sel.matchers, start, end, by,
        range, grid, sel.offsetSec, prep, relabel, whole),
      perSeries, op, q, horizonSec)
    if (whole) Vec(frame, None, None, None, None)
    else gridded(frame, sel, range, grid)
  }

  /** A stage-(b) frame on `sel`'s grid: `bucket_start` every `range` on
    * the tumbling grid (`grid` None), `eval_ts` every `grid` on the
    * sliding one, both shifted by the selector's offset. The caller sets
    * the keys and the value column. */
  private def gridded(
      frame: DataFrame, sel: Selector, range: Long, grid: Option[Long]): Vec =
    Vec(frame, None, Some(if (grid.isEmpty) "bucket_start" else "eval_ts"),
      None, Some((grid.getOrElse(range), sel.offsetSec)))

  /** The value column of the counter family's `sum` for `fn`. */
  private def counterCol(fn: String): String =
    if (fn == "rate") "rate_per_sec" else "increase"

  /** The value column of an aggregated counter subquery inner under
    * each op but `sum`, whose column is [[counterCol]]. */
  private val SlidingCounterCol = Map(
    "avg" -> "avg_v", "min" -> "min_v", "max" -> "max_v",
    "count" -> "n_series", "stddev" -> "stddev_v", "stdvar" -> "stdvar_v",
    "quantile" -> "q_v")

  /** The value column of the counter family's tumbling `op` of `fn`
    * ([[Tsdb.counterAggregate]]'s names). */
  private def counterValue(op: String, fn: String): String = (op, fn) match {
    case ("sum", _) => counterCol(fn)
    case ("count", _) => "n_series"
    case ("quantile", _) => if (fn == "rate") "q_rate" else "q_increase"
    case (m, "increase") => s"${m}_increase"
    case (m, _) => s"${m}_rate"
  }

  /** The value column of each label aggregation's gauge frame. */
  private val AggCol = Map("sum" -> "sum_v", "avg" -> "avg_v",
    "min" -> "min_v", "max" -> "max_v", "count" -> "n", "stddev" -> "stddev",
    "stdvar" -> "stdvar", "quantile" -> "q_v")

  /** The value column of each range function, top-level or as a
    * subquery outer. */
  private val RangeCol = Map(
    "sum_over_time" -> "sum_v", "avg_over_time" -> "avg_v",
    "min_over_time" -> "min_v", "max_over_time" -> "max_v",
    "count_over_time" -> "n", "last_over_time" -> "last_v",
    "quantile_over_time" -> "q_v", "stddev_over_time" -> "stddev_v",
    "stdvar_over_time" -> "stdvar_v", "present_over_time" -> "present_v",
    "mad_over_time" -> "mad_v", "rate" -> "rate_per_sec",
    "increase" -> "increase", "delta" -> "delta", "idelta" -> "idelta",
    "irate" -> "irate", "resets" -> "resets", "changes" -> "changes",
    "deriv" -> "slope_per_sec", "predict_linear" -> "predicted")

  /** Counter shapes with only a tumbling form reject a selector
    * [range:step] rather than ignore it. */
  private def tumblingOnly(sel: Selector, shape: String): Unit =
    require(sel.stepSec.isEmpty,
      s"$shape over ${sel.metric}[R:s] is not supported — use the " +
      s"subquery form (…)[R:s] instead")

  private def metricOf(e: Expr): Option[String] = e match {
    case s: Selector => Some(s.metric)
    case RangeFn(_, _, sel, _, _) => Some(sel.metric)
    case SubqueryFn(_, body, _, _, _, _) => metricOf(body)
    case a: Agg => metricOf(a.body)
    case MathFn(_, arg, _, _) => metricOf(arg)
    case LabelFn(_, inner, _) => metricOf(inner)
    case ValueLabel(_, inner) => metricOf(inner)
    case _ => None
  }

  /** The metric's label-key universe from the series DIMENSION (never the
    * fact table): distinct map keys minus the metric name. Bounded by the
    * schema's label-key count — a handful of strings — so the collect is
    * driver-safe at any series cardinality. Sorted for a deterministic
    * grouping column order. */
  private def labelKeys(t: Tsdb, metric: String): Seq[String] = {
    import org.apache.spark.sql.functions.{col, explode, map_keys}
    t.seriesMeta(Seq(LabelMatcher.eq(Tsdb.MetricLabel, metric)))
      .select(explode(map_keys(col("labels"))).as("k"))
      .where(col("k") =!= Tsdb.MetricLabel)
      .distinct().collect().map(_.getString(0)).toSeq.sorted
  }

  /** Resolve `without (labels)` clauses into explicit `by` lists against
    * the metric's actual label keys — after this pass the compiler only
    * ever sees `by`, and the compiled [[Vec]]'s keys are the resolved
    * list ([[Rules]] reads them from there). */
  private def resolveWithout(t: Tsdb, e: Expr): Expr = e match {
    case a @ Agg(_, _, _, by, body, wo) =>
      val rBody = resolveWithout(t, body)
      if (wo.isEmpty) a.copy(body = rBody)
      else {
        val metric = metricOf(body).getOrElse(
          throw new IllegalArgumentException(
            s"cannot resolve 'without' — no selector inside: $e"))
        a.copy(by = labelKeys(t, metric).filterNot(wo.contains),
          body = rBody, without = Seq.empty)
      }
    case sq @ SubqueryFn(_, body, _, _, _, _) =>
      sq.copy(body = resolveWithout(t, body))
    case hq @ HistQuantileAgg(_, body) =>
      hq.copy(body = resolveWithout(t, body))
    // two aggregated sides sharing one `without` clause (the ratio /
    // ratio-of-rates families): resolve against the UNION of both
    // metrics' key universes, so the sides group — and the vector match
    // joins — on the same label list even when the two metrics carry
    // different label keys. A side lacking one of the union's keys
    // groups it as NULL, and the null-safe match joins NULL to NULL:
    // Prometheus's labelset identity (absent matches absent). Resolving
    // per-metric instead would produce unequal by-lists and reject a
    // rule the STREAMING engine (per-row remaining-labels keys) happily
    // runs — batch backfill must accept whatever the stream accepts.
    case b @ BinOp(_, la: Agg, ra: Agg, _, _, _)
        if la.without.nonEmpty && ra.without.nonEmpty &&
          la.without.toSet == ra.without.toSet =>
      val (mA, mB) = (metricOf(la.body), metricOf(ra.body))
      if (mA.isEmpty || mB.isEmpty)
        throw new IllegalArgumentException(
          s"cannot resolve 'without' — no selector inside: $b")
      val universe =
        (labelKeys(t, mA.get) ++ labelKeys(t, mB.get)).distinct.sorted
      val by = universe.filterNot(la.without.contains)
      b.copy(
        lhs = la.copy(by = by, body = resolveWithout(t, la.body),
          without = Seq.empty),
        rhs = ra.copy(by = by, body = resolveWithout(t, ra.body),
          without = Seq.empty))
    case b @ BinOp(_, l, r, _, _, _) =>
      b.copy(lhs = resolveWithout(t, l), rhs = resolveWithout(t, r))
    // `ignoring (labels)` resolves to explicit on-labels: the COARSE
    // side's grouping (rhs under group_left, lhs under group_right,
    // either for a plain match — the compiler checks they agree) minus
    // the ignored labels. Pure AST arithmetic — the grouping clauses
    // carry the label sets, no data access.
    case IgnoringOp(op, l, r, ig, gl, gr, bool) =>
      val rl = resolveWithout(t, l)
      val rr = resolveWithout(t, r)
      val coarse = if (gr) rl else rr
      val base = coarse match {
        case Agg(_, _, _, by, _, _) => by
        // plain match (no group_left/right): either side's grouping works
        // — fall back to the lhs when the rhs is not an aggregation, e.g.
        // `sum by (c)(x) / ignoring (l) <raw rhs>`
        case _ if !gl && !gr && rl.isInstanceOf[Agg] =>
          rl.asInstanceOf[Agg].by
        case other => throw new IllegalArgumentException(
          s"ignoring(...) needs an aggregated side to take the label " +
          s"set from, got: $other")
      }
      val on = base.filterNot(ig.contains)
      // the ignoring form never carries labels: with group_left/right the
      // resolved on-labels must cover the one side's full grouping, or
      // the ignored label would silently ride onto the output through
      // the carry relaxation (the explicit-carry parser path already
      // rejects ignoring; this guards the un-annotated one)
      if (gl || gr) coarse match {
        case Agg(_, _, _, by, _, _) if by.toSet != on.toSet =>
          throw new IllegalArgumentException(
            s"ignoring(${ig.mkString(", ")}) group_${if (gl) "left"
              else "right"} would carry labels " +
            s"(${by.filterNot(on.contains).mkString(", ")}) — carried " +
            "labels need an explicit on (...) clause")
        case _ => ()
      }
      if (bool) BoolCmp(op, rl, rr, on, gl, gr)
      else BinOp(op, rl, rr, on, gl, gr)
    case bc @ BoolCmp(_, l, r, _, _, _) =>
      bc.copy(lhs = resolveWithout(t, l), rhs = resolveWithout(t, r))
    case m @ MathFn(_, arg, _, _) => m.copy(arg = resolveWithout(t, arg))
    case lf @ LabelFn(_, inner, _) => lf.copy(inner = resolveWithout(t, inner))
    case vl @ ValueLabel(_, inner) =>
      // count_values' rename wrapper must not hide a without(...) clause
      // from resolution (the inner Agg's wo would otherwise be ignored)
      vl.copy(inner = resolveWithout(t, inner).asInstanceOf[Agg])
    case other => other
  }

  /** The comparison filter op (PromQL drop semantics: rows failing the
    * predicate are dropped, values pass through unchanged). */
  private def cmp(op: String): (
      org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    op match {
      case ">" => (a, b) => a > b
      case "<" => (a, b) => a < b
      case ">=" => (a, b) => a >= b
      case "<=" => (a, b) => a <= b
    }

  /** Every vector-vector `BinOp` and `BoolCmp`: both sides compile
    * independently ([[compile]], so under [[queryFromRollup]] a moment
    * side is served from the tier) and meet in stage (c),
    * [[graft.Tsdb.vectorMatch]]. Any side pair whose [[Vec]]s carry
    * keys, a grid and a value column matches: moment aggregations,
    * counter-family aggregations, nested arithmetic (`a/b > c/d`).
    * `ignoring (l)` arrives here already resolved to explicit on-labels
    * (resolveWithout). A side is compiled before its shape is checked,
    * so a rejected side may have run its label-key or `le` job.
    *
    * Matching rules (Prometheus semantics, proven at compile time so a
    * wrong answer is unrepresentable): the sides share the step grid
    * and congruent offsets; a plain match needs both groupings equal to
    * the match labels (1:1 by construction: each side aggregates AT
    * that grain); `group_left` needs the match labels inside both
    * groupings, the right side's extra labels are carried (moment sides
    * only, never on `bool`, never already on the left); `group_right`
    * is the mirror.
    *
    * `mode` is stage (c)'s op: `arith` sets result = op(sum_a, sum_b), a
    * `filter` compare passes the LEFT operand's value through and drops
    * failing rows (Prometheus keeps the left value whichever side's
    * labels survive), `bool` emits the 0/1 indicator on every matched
    * row. The plan is two group-sized sides and one equi-join on (match
    * labels, t).
    */
  private def vectorMatch(
      t: Tsdb,
      op: String,
      lhs: Expr,
      rhs: Expr,
      on: Seq[String],
      gl: Boolean,
      gr: Boolean,
      start: Long,
      end: Long,
      buckets: Seq[Double],
      rollupStep: Option[Long],
      mode: String): Vec = {
    val a = compile(t, lhs, start, end, buckets, rollupStep)
    val b = compile(t, rhs, start, end, buckets, rollupStep)
    def grouping(v: Vec, e: Expr, side: String): Seq[String] =
      v.keys.getOrElse(throw new IllegalArgumentException(
        if (mode == "bool")
          s"bool comparisons support a scalar side (`x > bool 0.5`) or " +
          s"two matching aggregations (`sum by (l)(a[1h]) $op " +
          s"bool sum by (l)(b[1h])`, incl. over rate/increase); other " +
          s"vector shapes are not supported"
        else s"vector-match $side side has no derivable label grouping: $e"))
    def grid(v: Vec, e: Expr, side: String): ((Long, Long), String) =
      v.grid.zip(v.time).getOrElse(throw new IllegalArgumentException(
        s"vector-match $side side has no derivable step grid " +
        s"(needs a ranged selector `x[d]` inside): $e"))
    val byA = grouping(a, lhs, "left")
    val byB = grouping(b, rhs, "right")
    val ((stepA, offA), tA) = grid(a, lhs, "left")
    val ((stepB, offB), tB) = grid(b, rhs, "right")
    require(stepA == stepB,
      "vector-match sides must share the step grid")
    // misaligned offsets would shift one side's bucket_start values off
    // the other's grid and the equi-join would return EMPTY — an alert
    // that can never fire. Fail loudly instead (offsets that are
    // step-multiples keep the grids aligned and join fine).
    require(Math.floorMod(offA, stepA) == Math.floorMod(offB, stepA),
      s"vector-match sides' offsets ($offA s vs $offB s) are not " +
      s"congruent mod the ${stepA}s step — their bucket grids would " +
      "never intersect")
    val moments = a.counts && b.counts
    val mk: Seq[String] =
      if (!gl && !gr) {
        require(byA.toSet == byB.toSet,
          s"vector-match sides must aggregate by the same labels: " +
          s"$byA vs $byB (use 'on (l) group_left/group_right' for " +
          "one-to-many)")
        require(on.isEmpty || on.toSet == byA.toSet,
          s"on-labels ($on) must equal the grouping ($byA)")
        byA
      } else {
        val g = if (gl) "group_left" else "group_right"
        val (many, one, manySide, oneSide) =
          if (gl) (byA, byB, "left", "right") else (byB, byA, "right", "left")
        require(on.forall(one.contains),
          s"$g: the on-labels ($on) must be part of the $oneSide side's " +
          s"grouping ($one)")
        val mk = if (on.isEmpty) one else on
        require(mk.forall(many.contains),
          s"$g: match labels ($mk) must be part of the $manySide side's " +
          s"grouping ($many)")
        val carry = one.filterNot(mk.contains)
        if (carry.nonEmpty) {
          require(mode != "bool",
            s"bool $g does not carry labels — the $oneSide side must " +
            s"aggregate exactly at the on-labels ($mk), got $one")
          require(moments,
            s"$g on this shape needs the $oneSide side aggregated exactly " +
            s"at the match labels ($mk), got $one — carried labels " +
            s"($g(extra)) are supported between moment aggregations " +
            "only, not for counter (rate/increase) sides")
          require(carry.forall(c => !many.contains(c)),
            s"$g carried labels (${carry.filter(many.contains)}) already " +
            s"appear in the $manySide side's grouping — drop them from one " +
            "side (the join would produce ambiguous columns)")
        }
        mk
      }
    def side(v: Vec, e: Expr, by: Seq[String], tk: String, s: String) =
      v.frame.select((by.map(col) :+ col(tk)) ++
        (if (moments) Seq(col("n").as(s"n_$s")) else Nil) :+
        col(valueOf(v, e)).cast("double").as(s"sum_$s"): _*)
    Vec(Tsdb.vectorMatch(side(a, lhs, byA, tA, "a"),
        side(b, rhs, byB, tB, "b"), mk,
        if (gl) "left" else if (gr) "right" else "one", mode,
        if (mode == "arith") arith(op) else cmp(op)),
      Some(if (gr) byB else byA), Some(tA), Some("result"), a.grid)
  }

  /** The value column of `v`, compiled from `e`, that a scalar op, a
    * compare or a match reads. */
  private def valueOf(v: Vec, e: Expr): String =
    v.value.getOrElse(throw new IllegalArgumentException(
      s"scalar operand needs a single-valued vector side, got: $e"))

  /** `histogram_quantile` bucket bounds from the metric's `le` label
    * domain on the series DIMENSION — the Prometheus convention (one
    * series per cumulative bucket, `le` carrying the bound). Bounded by
    * the bucket count, so the collect is driver-safe at any series
    * cardinality; `+Inf` is implicit (the engine's catch-all bucket). */
  private def leBounds(t: Tsdb, metric: String): Seq[Double] = {
    import org.apache.spark.sql.functions.col
    val vals = t.seriesMeta(Seq(LabelMatcher.eq(Tsdb.MetricLabel, metric)))
      .select(col("labels").getItem("le").as("le"))
      .where(col("le").isNotNull && col("le") =!= "+Inf")
      .distinct().collect().map(_.getString(0)).toSeq
    val bounds = vals.flatMap(v => scala.util.Try(v.toDouble).toOption)
      .sorted
    require(bounds.nonEmpty,
      s"histogram_quantile needs bucket bounds: pass buckets = Seq(…) " +
      s"to PromQL.query, or attach an `le` label domain to '$metric' " +
      s"(no finite `le` values found on its series)")
    bounds
  }

  /** The label-map rewrite a [[LabelFn]] node compiles to — pure
    * map-side column work ([[graft.functions.LabelFunctions]]), so
    * relabeling fuses into the enclosing scan or aggregation at zero
    * extra shuffles. */
  private def relabelOf(name: String, args: Seq[String]): Column => Column =
    name match {
      case "label_replace" =>
        val Seq(dst, repl, src, regex) = args
        c => graft.functions.LabelFunctions.labelReplace(
          c, dst, repl, src, regex)
      case "label_join" =>
        val dst +: sep +: srcs = args: @unchecked
        c => graft.functions.LabelFunctions.labelJoin(c, dst, sep, srcs)
      case other => throw new IllegalArgumentException(
        s"$other does not rewrite labels — it cannot feed an " +
        "aggregation's relabel step (sort it AROUND the aggregation)")
    }

  /** The vector-match column op. Sums arrive as exact-DECIMAL-derived
    * doubles; `+ - *` on them are single IEEE ops reproducible across
    * engines, while `/` rounds to 6 decimals (the engine's documented
    * ratio form, shared with the tsdb_ratio oracle). */
  private[graft] def arith(op: String): (
      org.apache.spark.sql.Column,
      org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
    op match {
      // Spark 4's ANSI mode throws DIVIDE_BY_ZERO even for DOUBLE
      // division, but Prometheus (and IEEE, and DuckDB) defines x/0:
      // +Inf for x>0, -Inf for x<0, NaN for 0/0 — exactly what
      // `x * +Inf` produces, so a zero-denominator bucket yields the
      // Prometheus value instead of killing the query. round() passes
      // the specials through (Catalyst Round checks them first).
      case "/" => (a, b) =>
        round(org.apache.spark.sql.functions
          .when(b.cast("double") === 0.0,
            a.cast("double") * lit(Double.PositiveInfinity))
          .otherwise(a.cast("double") / b.cast("double")), 6)
      case "*" => (a, b) => a * b
      case "+" => (a, b) => a + b
      case "-" => (a, b) => a - b
      // PromQL `%` is Go math.Mod: remainder carrying the dividend's
      // sign — exactly Java's / Spark's `%` on doubles (DuckDB: fmod);
      // mod 0 is NaN (Go math.Mod), guarded like `/` above.
      // The double-only ops round like `/` for cross-engine hashing.
      case "%" => (a, b) =>
        round(org.apache.spark.sql.functions
          .when(b.cast("double") === 0.0, lit(Double.NaN))
          .otherwise(a.cast("double") % b.cast("double")), 6)
      case "^" => (a, b) =>
        round(org.apache.spark.sql.functions.pow(a, b), 6)
      case "atan2" => (a, b) =>
        round(org.apache.spark.sql.functions.atan2(
          a.cast("double"), b.cast("double")), 6)
    }

  /** A pure per-step scalar expression — literals, `time()`, and their
    * `+ - * / % ^ atan2` compositions — compiled to a Column over the
    * grid timestamp `ts`. Vector shapes return None, which is how the
    * binary-op compile cases distinguish a scalar side from a vector
    * side. */
  private def scalarSide(e: Expr, ts: org.apache.spark.sql.Column)
      : Option[org.apache.spark.sql.Column] = e match {
    case NumLit(v) => Some(lit(v))
    case TimeLit => Some(ts.cast("double"))
    case BinOp(op, l, r, on, false, false) if ArithOps(op) && on.isEmpty =>
      for (a <- scalarSide(l, ts); b <- scalarSide(r, ts))
        yield arith(op)(a, b)
    case _ => None
  }

  /** The sequence-generated eval grid: one `bucket_start` row per step
    * in the window's bucket span, offset-aligned — (end−start)/step
    * rows, bounded by the query window, never a scan. Shared by the
    * `or vector(s)` gap filler and the standalone scalar shapes
    * (`time()`, `scalar(agg)`). */
  private def evalGrid(
      t: Tsdb, start: Long, end: Long, step: Long,
      off: Long = 0L): DataFrame = {
    val b0 = (start - off) - Math.floorMod(start - off, step) + off
    val b1 = (end - off) - Math.floorMod(end - off, step) + off
    t.spark.range(1).select(
      org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.sequence(
          lit(b0), lit(b1), lit(step))).as("bucket_start"))
  }

  private def containsTime(e: Expr): Boolean = e match {
    case TimeLit => true
    case BinOp(_, l, r, _, _, _) => containsTime(l) || containsTime(r)
    case _ => false
  }

  /** `v` (compiled from `e`) under a scalar side `sc`: an arithmetic op
    * sets `result` (replacing any earlier one), a comparison filters
    * and keeps `v`'s value. */
  private def scalarOp(
      v: Vec, e: Expr, op: String, sc: Column, scalarLeft: Boolean): Vec = {
    val c = col(valueOf(v, e))
    val (a, b) = if (scalarLeft) (sc, c) else (c, sc)
    if (ArithOps(op))
      Vec(v.frame.withColumn("result", arith(op)(a, b)), v.keys, v.time,
        Some("result"), v.grid)
    else Vec(v.frame.where(cmp(op)(a, b)), v.keys, v.time, v.value, v.grid)
  }

  /** `v` (compiled from `e`) under a `bool` comparison: every row kept,
    * `result` the 0/1 of `pred` over its value. */
  private def boolOp(v: Vec, e: Expr, pred: Column => Column): Vec =
    Vec(v.frame.withColumn("result",
        org.apache.spark.sql.functions
          .when(pred(col(valueOf(v, e))), 1.0).otherwise(0.0)),
      v.keys, v.time, Some("result"), v.grid)

  private def requireGlobal(v: Vec, e: Expr): Unit =
    require(v.keys.contains(Seq.empty),
      s"scalar() needs a global (no `by`) aggregation argument, got: $e")

  /** The scalar() and `or vector(…)` joins meet on the tumbling
    * `bucket_start` grid: an operand timed otherwise (a subquery's
    * `eval_ts`) is rejected by name instead of failing unresolved. */
  private def requireBucketTimed(v: Vec, e: Expr, what: String): Unit =
    require(v.time.contains("bucket_start"),
      s"$what needs bucket_start-timed operands, got " +
      s"${v.time.getOrElse("no time column")} for: $e")

  /** The `scalar()` binary-op cases: broadcast-join the one-row-per-bucket
    * scalar `sc` (compiled from `scExpr`, a global aggregation) onto
    * `vec` and apply `op` with the scalar on the requested side. An
    * arithmetic op REPLACES any pre-existing `result` column (never
    * duplicates it — `(x * 2) / scalar(…)` has one); a comparison
    * filters and keeps the vector side's columns. */
  private def scalarJoin(
      vec: Vec,
      vecExpr: Expr,
      sc: Vec,
      scExpr: Expr,
      op: String,
      scalarLeft: Boolean): Vec = {
    requireGlobal(sc, scExpr)
    requireBucketTimed(sc, scExpr, "scalar()")
    requireBucketTimed(vec, vecExpr, "scalar()")
    val dfScalar = sc.frame.select(col("bucket_start"),
      col(valueOf(sc, scExpr)).as("__scalar"))
    val vecCol = valueOf(vec, vecExpr)
    val cols = vec.frame.columns.toSeq
    val joined = vec.frame.join(
      org.apache.spark.sql.functions.broadcast(dfScalar), "bucket_start")
    val (a, b) =
      if (scalarLeft) (col("__scalar"), col(vecCol))
      else (col(vecCol), col("__scalar"))
    if (ArithOps(op))
      Vec(joined.withColumn("result", arith(op)(a, b))
          .select(cols.filterNot(_ == "result").map(col) :+ col("result"): _*),
        vec.keys, vec.time, Some("result"), vec.grid)
    else
      Vec(joined.where(cmp(op)(a, b)).select(cols.map(col): _*),
        vec.keys, vec.time, vec.value, vec.grid)
  }

  /** The keys of a range function's frame: its trailing `by`, when given.
    * Without one the frame is per series, keyed by the metric's label-key
    * universe read from the data. */
  private def trailingBy(by: Seq[String]): Option[Seq[String]] =
    if (by.nonEmpty) Some(by) else None

  private def checkRollupStep(sel: Selector, rollupStep: Long): Long = {
    val s = stepOf(sel, "rollup-served aggregation")
    require(s == rollupStep,
      s"selector step ${s}s must equal the rollup step ${rollupStep}s " +
      "to be served exactly from the rollup tier")
    s
  }

  private def compile(
      t: Tsdb,
      e: Expr,
      start: Long,
      end: Long,
      buckets: Seq[Double],
      rollupStep: Option[Long]): Vec =
    e match {
      // rollup-served forms first: the same strings, the downsampled tier
      case Agg(op, _, _, by, sel: Selector, _)
          if rollupStep.isDefined && MomentAggs(op) =>
        val step = checkRollupStep(sel, rollupStep.get)
        Vec(t.aggregateByFromRollup(step, sel.metric, sel.matchers, start,
            end, by, sel.offsetSec),
          Some(by), Some("bucket_start"), AggCol.get(op),
          Some((step, sel.offsetSec)), counts = true)

      // nested subquery: `fn_over_time( rate(x[5m])[1h:1m] )` — the
      // "peak rate over the window" idiom. The inner counter function
      // evaluates SLIDING on the subquery-step grid over an extended
      // span (the counter family's sliding stages: Tsdb.counterSeries,
      // Tsdb.counterAggregate); the outer *_over_time is the same
      // grid-explode aggregation over the inner points
      // (Tsdb.overTimeOnFrame). Two shuffles total, both at label-group
      // grain — never sample-cardinality beyond the first aggregation.
      case sqTop: SubqueryFn =>
        // Recursive subquery evaluator (any depth): `outGrid` is the
        // grid the construct's value is emitted on — the node's own
        // step at the top level, the ENCLOSING subquery's step when the
        // node is a nested body. Re-aiming only the OUTPUT grid is
        // exact at any depth: a subquery construct's value at time τ
        // depends solely on its inner points in (τ − R, τ] on the
        // inner's own absolute grid, and the outer window merely
        // collects those points — no divisibility constraint arises
        // from the recursion itself (the depth-2 selector-step
        // optimization below keeps its own `ist | ost` check because it
        // ELIDES the inner grid instead of materializing it).
        // Returns the frame, its label columns, whether the AST fixes
        // them (not a label-key universe read from the data) and its
        // value column.
        def subq(node: SubqueryFn, start1: Long, end1: Long,
            outGrid: Long): (DataFrame, Seq[String], Boolean, String) = {
        val SubqueryFn(fn, body, rangeSec, stepSec, q, sqOff) = node
        // `offset d` on the subquery: the whole construct evaluates d
        // back (inner grid AND outer windows), timestamps shift forward
        // to the query grid — the same convention the selector offsets
        // use (bucket_start + offset)
        val s0 = start1 - sqOff
        val e0 = end1 - sqOff
        // a [range:step] on a selector INSIDE the subquery body is a
        // subquery-in-subquery (depth 2): `max_over_time(
        // rate(x[30m:5m])[3h:30m])`. Under this engine's documented
        // sliding convention the inner value at eval time T depends only
        // on the raw samples in (T−range, T] — the pinned inner step
        // only decides WHERE the inner evaluates — so resampling the
        // inner at the outer subquery's grid is EXACT whenever every
        // outer grid point lies on the inner grid (innerStep | outerStep):
        // the compiled plan below evaluates the inner sliding window
        // directly on the outer grid (the body cases read only the
        // selector's range, never its step). Misaligned grids would ask
        // for inner values at timestamps the inner never emits — fail
        // fast. A SubqueryFn inside the body (depth ≥ 3) is served by
        // the `case sq2: SubqueryFn` recursion below instead.
        def checkSelStep(ex: Expr): Unit = ex match {
          case RangeFn(_, _, sel2, _, _) =>
            sel2.stepSec.foreach { ist =>
              require(stepSec % ist == 0,
                s"subquery-in-subquery needs aligned grids: the inner " +
                s"step ${ist}s must divide the outer subquery step " +
                s"${stepSec}s (${sel2.metric}[..:${ist}] under " +
                s"[..:${stepSec}])")
            }
          case Agg(_, _, _, _, b2, _) => checkSelStep(b2)
          case BinOp(_, l2, r2, _, _, _) =>
            checkSelStep(l2); checkSelStep(r2)
          case _ => ()
        }
        checkSelStep(body)
        def counterInner(n: String, sel: Selector, by: Seq[String],
            op: String, q: Option[Double] = None) =
          counterFamily(t, n, sel, by, op, s0 - rangeSec, e0,
            Some(stepSec), q).frame
        val (inner, keys, known, valCol) = body match {
          case RangeFn(n, _, sel, by, _) if n == "rate" || n == "increase" =>
            // bare rate/increase is per-series: an empty trailing-by
            // means the metric's full label-key universe
            val ks = if (by.nonEmpty) by else labelKeys(t, sel.metric)
            (counterInner(n, sel, ks, "sum"), ks, by.nonEmpty, counterCol(n))
          // aggregated inner: the canonical `sum by (l) (rate(x[5m]))`,
          // the moments `avg/min/max/count/stddev/stdvar by (l) (...)`
          // and the SLO family's `quantile by (l) (0.9, rate(x[d]))`
          // (exact linear-interpolation Percentile) — the counter
          // family's sliding stages (a) + (b). `without` arrives here
          // already by-resolved via resolveWithout; an empty by is the
          // GLOBAL aggregation — one series, no keys
          case Agg(op, None, q, by, RangeFn(n, _, sel, Nil, _), Nil)
              if (op == "sum" || SlidingCounterCol.contains(op)) &&
                (op == "quantile") == q.isDefined &&
                (n == "rate" || n == "increase") =>
            (counterInner(n, sel, by, op, q), by, true,
              SlidingCounterCol.getOrElse(op, counterCol(n)))
          // gauge smoothing inner: `max_over_time(avg_over_time(x[5m])
          // [1h:5m])` — the gauge moments evaluate sliding on the
          // subquery grid at the `by` grain, the outer aggregates those
          // points. The mean is floor-r6 quantized, so spread/counter
          // outers over it stay in the integer-micro exactness family
          // (the other moments are 2-decimal values or their sums)
          case RangeFn(n, _, sel, by, _) if OverTime(n) =>
            val ks = if (by.nonEmpty) by else labelKeys(t, sel.metric)
            val v = RangeCol(n)
            (gaugeFamily(t, sel, ks, "moments", n, s0 - rangeSec, e0,
                Some(stepSec)).frame
              .select((ks.map(col) :+ col("eval_ts")) :+ (
                if (v == "avg_v") Tsdb.r6(col("sum_v") / col("n"))
                else col(v)).as(v): _*),
              ks, by.nonEmpty, v)
          // selection-aggregated inner: `topk(k, sum by (l)(rate(x[d])))
          // [R:s]` — "time spent in the top k": at each subquery eval
          // point the k highest(/lowest)-valued groups survive, so
          // `count_over_time` over it reads "eval points spent in the
          // top k" and `max_over_time` the peak while there. One
          // row_number window at (topk-by, eval point) grain over the
          // sliding frame — group-sized, never sample-sized. Prometheus
          // leaves ties unspecified; this engine pins (value, labels)
          // ordering so results are deterministic and oracle-exact.
          case Agg(op2, Some(k), None, byTop,
              Agg("sum", None, None, by, RangeFn(n, _, sel, Nil, _), Nil),
              Nil)
              if (op2 == "topk" || op2 == "bottomk") &&
                (n == "rate" || n == "increase") =>
            require(byTop.forall(by.contains),
              s"topk/bottomk by-labels must be a subset of the inner " +
              s"grouping: $byTop vs $by")
            val vc = counterCol(n)
            val frame = counterInner(n, sel, by, "sum")
            val ord =
              if (op2 == "topk") col(vc).desc else col(vc).asc
            (Tsdb.firstK(frame, (byTop :+ "eval_ts").map(col),
                ord +: by.map(l => col(l).asc_nulls_first), lit(k), "__rk")
              .drop("__rk"), by, true, vc)
          // binary-op inner: `(sum by (l)(rate(a[d])) <op> sum by (l)
          // (rate(b[d])))[R:s]` — the peak-error-ratio idiom
          // `max_over_time((sum(rate(err[5m]))/sum(rate(req[5m])))
          // [1h:5m])`. Both legs evaluate sliding on the shared
          // subquery grid (one counter-family sum each), then a
          // null-safe vector match per (labels, eval point); inner
          // join semantics = Prometheus vector matching (a point
          // exists only where both sides do)
          case BinOp(op,
              Agg("sum", None, None, byA, RangeFn(nA, _, selA, Nil, _),
                Nil),
              Agg("sum", None, None, byB, RangeFn(nB, _, selB, Nil, _),
                Nil), Nil, false, false)
              if ArithOps(op) && nA == nB &&
                (nA == "rate" || nA == "increase") =>
            require(byA.toSet == byB.toSet,
              s"subquery vector-match sides must aggregate by the same " +
              s"labels: $byA vs $byB")
            def leg(sel: Selector, n2: String, s: String) =
              counterInner(n2, sel, byA, "sum")
                .select((byA.map(col) :+ col("eval_ts") :+
                  col(counterCol(n2)).as(s"sum_$s")): _*)
            // the subquery-frame quantization contract (r14/r15): "/"
            // results are round(…,6) by the engine's ratio contract
            // (`ratio6`); + - * results are single IEEE ops over the
            // floor-r6-quantized legs, quantized HERE through the same
            // tie-free Tsdb.r6 (`result6`) — both are
            // 6-decimal QUANTIZED, so they join the integer-micro
            // exactness family (spread/counter outers allowed). The
            // %,^,atan2 results quantize through engine round() (which
            // diverges from DuckDB round() on exact-.5 products), so
            // they stay named `result` and stay excluded.
            val rc = op match {
              case "/" => "ratio6"
              case "+" | "-" | "*" => "result6"
              case _ => "result"
            }
            val f: (Column, Column) => Column = op match {
              case "+" | "-" | "*" => (x, y) => Tsdb.r6(arith(op)(x, y))
              case _ => arith(op)
            }
            val joined = Tsdb.vectorMatch(leg(selA, nA, "a"),
                leg(selB, nB, "b"), byA, "one", "arith", f)
              .select((byA.map(col) :+ col("eval_ts")) :+
                col("result").as(rc): _*)
            (joined, byA, true, rc)
          // depth-3+ nesting: the body is ITSELF a subquery construct —
          // `avg_over_time(max_over_time(rate(x[1h])[6h:1h])[1d:6h])`,
          // the daily average of six-hourly peak rates. The nested
          // construct evaluates recursively ON THIS node's step grid
          // (exact — see subq's scaladoc); its value column feeds the
          // outer window like any computed inner. Only the plain
          // moment/quantile outers accept a nested-subquery inner:
          // the nested avg_v/q_v legs are raw double divisions (not
          // floor-r6 quantized), so the integer-micro exactness
          // schemes the spread/mad/counter outers rely on do not
          // apply — those stay fail-fast here.
          case sq2: SubqueryFn =>
            require(OverTime(fn) ||
                (fn == "quantile_over_time" && q.isDefined),
              s"a nested-subquery INNER supports only the sum/avg/min/" +
              s"max/count/last/quantile _over_time outer family " +
              s"(spread, mad, and counter/trend outers need a " +
              s"quantized inner value column); got outer $fn")
            val (f2, k2, known2, v2) = subq(sq2, s0 - rangeSec, e0, stepSec)
            (f2.select((k2.map(col) :+ col("eval_ts") :+ col(v2)): _*),
              k2, known2, v2)
          case other => throw new IllegalArgumentException(
            "nested subqueries support rate/increase or *_over_time " +
            "inner vectors (optionally aggregated: `sum by (l) " +
            "(rate(x[d]))` or the trailing-by extension, moments, " +
            "quantile, a two-sided sum-rate binary op, or a nested " +
            "subquery construct), " +
            s"got: ${render(other)}")
        }
        // spread outers (stddev/stdvar_over_time) use the integer-micro
        // exactness scheme, which is lossless ONLY over 6-decimal
        // QUANTIZED inner values: the counter family's round(…,6) rate,
        // the 2-decimal delta-sum increase/sum, integer counts, the
        // floor-r6 moment/quantile columns, and — since the gauge
        // avg_v legs (the gauge inner, the sliding counter moments)
        // adopted the tie-free floor-r6 quantization — every gauge
        // moment too (min/max/last are raw 2-decimal sample values,
        // sum_v their exact decimal sum). The one remaining unquantized
        // inner is the binary-op `result` (a raw double division) —
        // that stays fail-fast.
        val spread = SpreadOverTime(fn)
        if (spread && !Set("rate_per_sec", "increase", "n", "n_series",
            "stddev_v", "stdvar_v", "q_v", "avg_v", "min_v", "max_v",
            "last_v", "sum_v", "ratio6", "result6").contains(valCol))
          throw new IllegalArgumentException(
            s"stddev/stdvar_over_time subquery outers support counter " +
            s"(rate/increase, optionally aggregated), gauge moment, " +
            s"count, quantile, spread, and quantized binary-op " +
            s"(+ - * /) inners; got inner value '$valCol'")
        val frame =
          if (SlidingRangeFns(fn)) {
            // counter/trend OUTER over the computed frame —
            // `deriv(sum by (l)(rate(x[5m]))[6h:1h])` (trend of the
            // aggregated rate), `changes(...)` (direction flips),
            // `predict_linear(..., t)` (rolling extrapolation of a
            // computed signal). The binary-op `result` inner is a raw
            // double division — the only unquantized frame column —
            // so the exact-decimal pairwise/regression arithmetic
            // would silently lose precision there: fail fast.
            require(valCol != "result",
              s"counter/trend subquery outers need a quantized inner " +
              s"value column; the binary-op 'result' (a raw double " +
              s"division) is not — aggregate or round it first")
            val hz =
              if (fn == "predict_linear")
                q.getOrElse(throw new IllegalArgumentException(
                  "predict_linear(<vector>[R:s], t) needs the horizon " +
                  "argument")).toLong
              else 0L
            Tsdb.counterOverFrame(inner, keys, "eval_ts", valCol,
              s0, e0, outGrid, rangeSec, fn, hz)
          } else
            Tsdb.overTimeOnFrame(inner, keys, "eval_ts", valCol,
              s0, e0, outGrid, rangeSec, q, spread = spread,
              mad = fn == "mad_over_time")
        val shifted =
          if (sqOff == 0L) frame
          else frame.withColumn("eval_ts", col("eval_ts") + sqOff)
        (shifted, keys, known, RangeCol(fn))
        }
        val (frame, keys, known, value) =
          subq(sqTop, start, end, sqTop.stepSec)
        Vec(frame, if (known) Some(keys) else None, Some("eval_ts"),
          Some(value), Some((sqTop.stepSec, sqTop.offsetSec)))

      // scalar arithmetic / threshold filters recurse on their vector
      // side, so they sit ABOVE the rollup catch-all and compose with
      // rollup-served operands too
      case BinOp(op, lhs, NumLit(v), _, false, false)
          if ArithOps(op) || CmpOps(op) =>
        scalarOp(compile(t, lhs, start, end, buckets, rollupStep), lhs, op,
          lit(v), scalarLeft = false)
      case BinOp(op, NumLit(v), rhs, _, false, false)
          if ArithOps(op) || CmpOps(op) =>
        scalarOp(compile(t, rhs, start, end, buckets, rollupStep), rhs, op,
          lit(v), scalarLeft = true)

      // scalar(v) as a binary-op side: v must be a GLOBAL (by-empty)
      // aggregation — one row per grid bucket, so the "scalar" is a
      // per-step value joined on bucket_start (broadcast: one row per
      // bucket, bounded by the query window). The share-of-total idiom
      // `sum by (l)(x) / scalar(sum(x))`, or mirrored (`scalar(sum(x)) -
      // y`). Prometheus returns NaN for a multi-series argument; this
      // engine rejects the shape at compile time instead (the grouping
      // clause proves cardinality), so a wrong answer is unrepresentable.
      case BinOp(op, lhs, MathFn("scalar", inner, _, _), _, false, false)
          if ArithOps(op) || CmpOps(op) =>
        scalarJoin(compile(t, lhs, start, end, buckets, rollupStep), lhs,
          compile(t, inner, start, end, buckets, rollupStep), inner, op,
          scalarLeft = false)
      case BinOp(op, MathFn("scalar", inner, _, _), rhs, _, false, false)
          if ArithOps(op) || CmpOps(op) =>
        scalarJoin(compile(t, rhs, start, end, buckets, rollupStep), rhs,
          compile(t, inner, start, end, buckets, rollupStep), inner, op,
          scalarLeft = true)

      // standalone scalar(agg) — a per-step scalar series on the
      // argument's own eval grid (the sequence generator, never a
      // scan): (bucket_start, result), with Prometheus's NaN on grid
      // buckets the aggregation left empty. The argument must be a
      // global (by-empty) aggregation — cardinality 1 per bucket is
      // proven at compile time, so a wrong answer is unrepresentable.
      case MathFn("scalar", inner, _, _) =>
        val in = compile(t, inner, start, end, buckets, rollupStep)
        requireGlobal(in, inner)
        requireBucketTimed(in, inner, "scalar()")
        val (step, off) = in.grid.getOrElse(
          throw new IllegalArgumentException(
            s"standalone scalar() could not derive the eval grid " +
            s"(needs a ranged selector `x[d]` inside): $inner"))
        val dfI = in.frame.select(col("bucket_start"),
          col(valueOf(in, inner)).cast("double").as("__v"))
        Vec(evalGrid(t, start, end, step, off)
            .join(org.apache.spark.sql.functions.broadcast(dfI),
              Seq("bucket_start"), "left_outer")
            .select(col("bucket_start"),
              coalesce(col("__v"), lit(Double.NaN)).as("result")),
          Some(Nil), Some("bucket_start"), Some("result"), in.grid)

      // composite per-step scalar sides: any literal/time() arithmetic
      // composition (`x - time()`, `x > time() % 86400`, `x * (2 + 3)`)
      // evaluates as a Column over the vector side's grid — the plain
      // one-literal forms are caught by the NumLit cases above, this
      // handles the nested shapes. The guard requires the OTHER side to
      // NOT be scalar, so pure-scalar queries still fail loudly below.
      case BinOp(op, lhs, rhs, _, false, false)
          if (ArithOps(op) || CmpOps(op)) &&
            (scalarSide(rhs, lit(0L)).isDefined !=
              scalarSide(lhs, lit(0L)).isDefined) =>
        val scalarLeft = scalarSide(lhs, lit(0L)).isDefined
        val (vx, sx) = if (scalarLeft) (rhs, lhs) else (lhs, rhs)
        val v = compile(t, vx, start, end, buckets, rollupStep)
        val sc =
          if (containsTime(sx)) {
            require(v.time.contains("bucket_start"),
              s"time() needs a grid-shaped vector side (a bucket_start " +
              s"column), got columns ${v.frame.columns.toSeq}")
            scalarSide(sx, col("bucket_start")).get
          } else scalarSide(sx, lit(0L)).get
        scalarOp(v, vx, op, sc, scalarLeft)

      // `bool` comparisons keep every row and emit Prometheus's 0/1
      // vector in `result` instead of filtering
      case BoolCmp(op, lhs, NumLit(v), Seq(), false, false) =>
        boolOp(compile(t, lhs, start, end, buckets, rollupStep), lhs,
          c => cmp(op)(c, lit(v)))
      case BoolCmp(op, NumLit(v), rhs, Seq(), false, false) =>
        boolOp(compile(t, rhs, start, end, buckets, rollupStep), rhs,
          c => cmp(op)(lit(v), c))
      // vector-vector `bool` comparison (`a > bool b`) — the alert-rule
      // form: every matched (labels, t) row survives and `result` is
      // Prometheus's 0/1, with on()/group_left/group_right like the
      // filter form; other bool shapes are named in vectorMatch's error
      case BoolCmp(op, lhs, rhs, on, gl, gr) =>
        vectorMatch(t, op, lhs, rhs, on, gl, gr,
          start, end, buckets, rollupStep, "bool")

      // vector matches and compares — any side pair whose Vecs carry
      // keys: moment aggregations (`errors / requests`, any moment
      // pair), counter-family sides (`sum by (c)(rate(a[1h])) > sum by
      // (c)(rate(b[1h]))`, the canonical alert compare), on()/ignoring
      // projections at distinct grains with group_left/group_right (incl.
      // carried labels), and nested arithmetic sides (`a/b > c/d`).
      // Arithmetic sets result = op(a, b); a compare passes the left
      // value through and drops the failing rows.
      case BinOp(op, lhs, rhs, on, gl, gr) if ArithOps(op) || CmpOps(op) =>
        vectorMatch(t, op, lhs, rhs, on, gl, gr, start, end,
          buckets, rollupStep, if (ArithOps(op)) "arith" else "filter")

      // `expr or vector(s)` — Prometheus's gap-filling idiom
      // (`sum(x[step]) or vector(0)`). The rhs vector carries NO labels,
      // so it can only match a GLOBAL (by-empty) aggregation on the
      // left; labeled lhs shapes are rejected loudly instead of
      // silently emitting a phantom constant series next to them. The
      // grid is generated with `sequence` over the lhs bucket span —
      // (end-start)/step rows, bounded by the query window, never a
      // scan — and LEFT-OUTER joins the broadcast aggregation, taking
      // the scalar where no bucket matched. One use of the lhs subtree:
      // the union+anti-join formulation scanned the fact table TWICE
      // (column pruning makes the two agg subtrees differ, defeating
      // exchange reuse — PlanSpec gates the single-scan shape). Output
      // contract: (bucket_start, <lhs value column>), the scalar
      // evaluated on the grid (so `or vector(time())` works).
      case BinOp("or", l, MathFn("vector", s, _, _), _, false, false) =>
        val a = compile(t, l, start, end, buckets, rollupStep)
        require(a.keys.contains(Seq.empty),
          s"`or vector(…)` needs a global (no `by`) aggregation on the " +
          s"left — the vector side carries no labels to match, got: $l")
        val (step, off) = a.grid.getOrElse(
          throw new IllegalArgumentException(
            s"`or vector(…)` could not derive the lhs bucket grid " +
            s"(needs a ranged selector `x[d]` inside): $l"))
        requireBucketTimed(a, l, "`or vector(…)`")
        val sc = scalarSide(s, col("bucket_start").cast("double"))
          .getOrElse(throw new IllegalArgumentException(
            s"vector() takes a scalar argument (a literal / time() " +
            s"composition), got: $s"))
        val vCol = valueOf(a, l)
        val dfL = a.frame
          .select(col("bucket_start"), col(vCol).cast("double").as(vCol))
        Vec(evalGrid(t, start, end, step, off)
            .join(org.apache.spark.sql.functions.broadcast(dfL),
              Seq("bucket_start"), "left_outer")
            .select(col("bucket_start"),
              coalesce(col(vCol), sc.cast("double")).as(vCol)),
          Some(Nil), Some("bucket_start"), Some(vCol), a.grid)

      // a vector() anywhere else has no grid to ride — name the
      // restriction instead of hitting the pointwise MathFn catch-all
      case MathFn("vector", _, _, _) =>
        throw new IllegalArgumentException(
          "vector() is supported as the right side of `or` only — the " +
          "gap-filling idiom `sum(x[step]) or vector(0)`")

      // vector set ops: both sides compile independently (so filtered /
      // scalar-wrapped sides compose) and meet in stage (c); the match
      // key is (labels, t)
      //  - and:    lhs rows whose key exists on the right (left-semi)
      //  - unless: lhs rows whose key does not         (left-anti)
      //  - or:     all of lhs plus right rows with absent keys
      case BinOp(sop, l, r, _, false, false) if SetOps(sop) =>
        val a = compile(t, l, start, end, buckets, rollupStep)
        val b = compile(t, r, start, end, buckets, rollupStep)
        def side(v: Vec, x: Expr, which: String): Seq[String] =
          v.keys.getOrElse(throw new IllegalArgumentException(
            s"'$sop' needs an aggregated vector on the $which side, " +
            s"got: $x"))
        val byL = side(a, l, "left")
        val byR = side(b, r, "right")
        require(byL == byR,
          s"'$sop' sides must aggregate by the same labels: $byL vs $byR")
        Vec(Tsdb.vectorMatch(a.frame, b.frame, byL, "one", sop),
          Some(byL), a.time, a.value, a.grid.orElse(b.grid))

      // time functions read the grid timestamp, not the value column:
      // hour/minute/day_of_week are pure epoch arithmetic (no calendar,
      // no TZ — identical integer ops in any engine); the calendar
      // fields go through Spark's UTC date functions
      // holt_winters rides the over_time eval grid, not the pointwise
      // path — per-series grouping from the label-key universe, like
      // the bare rate/over_time forms
      case MathFn("holt_winters", sel: Selector, Some(sfArg), Some(tfArg)) =>
        val step = sel.stepSec.getOrElse(stepOf(sel, "holt_winters"))
        Vec(t.holtWintersBy(sel.metric, sel.matchers, start, end,
            labelKeys(t, sel.metric), step, stepOf(sel, "holt_winters"),
            sfArg, tfArg, sel.offsetSec),
          None, Some("eval_ts"), Some("hw_v"), Some((step, sel.offsetSec)))

      // a non-bare-selector holt_winters argument parses fine — name the
      // restriction instead of dying in the pointwise MathFn catch-all
      case MathFn("holt_winters", other, _, _) =>
        throw new IllegalArgumentException(
          s"holt_winters needs a bare ranged selector argument " +
          s"(holt_winters(x[1h], sf, tf)), got: $other")

      case MathFn(name, arg, _, _) if TimeFns(name) =>
        val a = compile(t, arg, start, end, buckets, rollupStep)
        require(a.time.contains("bucket_start"),
          s"$name() needs a grid-shaped body (a bucket_start column), " +
          s"got columns ${a.frame.columns.toSeq}")
        val b = col("bucket_start")
        val f = org.apache.spark.sql.functions
        val e = name match {
          case "timestamp" => b.cast("double")
          case "hour" => f.floor(f.pmod(b, lit(86400L)) / 3600).cast("double")
          case "minute" => f.floor(f.pmod(b, lit(3600L)) / 60).cast("double")
          // epoch day 0 = Thursday; Prometheus numbers Sunday as 0
          case "day_of_week" =>
            f.pmod(f.floor(b / 86400) + 4, lit(7L)).cast("double")
          case "day_of_month" =>
            f.dayofmonth(f.to_date(f.from_unixtime(b))).cast("double")
          case "month" =>
            f.month(f.to_date(f.from_unixtime(b))).cast("double")
          case "year" =>
            f.year(f.to_date(f.from_unixtime(b))).cast("double")
          case "day_of_year" =>
            f.dayofyear(f.to_date(f.from_unixtime(b))).cast("double")
          case "days_in_month" =>
            f.dayofmonth(f.last_day(f.to_date(f.from_unixtime(b))))
              .cast("double")
        }
        Vec(a.frame.withColumn("result", e), a.keys, a.time, Some("result"),
          a.grid)

      // presentation ordering by label values — Prometheus's
      // sort_by_label/_desc (experimental there, stable here): the
      // compiled inner ordered by its label columns, remaining columns
      // as ascending tiebreaks (deterministic row order, like sort).
      // The labels must be the inner's GROUPING labels — value/grid
      // columns are not labels, and a bare selector (map-typed labels)
      // has none. Sits above the rollup catch-all so a rollup-served
      // inner can be sorted too.
      case LabelFn(n @ ("sort_by_label" | "sort_by_label_desc"),
          inner, lbls) =>
        val a = compile(t, inner, start, end, buckets, rollupStep)
        val by = a.keys.getOrElse(
          throw new IllegalArgumentException(
            s"$n needs an aggregated vector with label columns, got: " +
            s"$inner"))
        val missing = lbls.filterNot(by.contains)
        require(missing.isEmpty,
          s"$n: label(s) ${missing.mkString(", ")} not in the result's " +
          s"grouping labels (${by.mkString(", ")})")
        val keys = lbls.map(l =>
          if (n.endsWith("_desc")) col(l).desc else col(l).asc)
        val rest = a.frame.columns.filterNot(lbls.contains).map(col(_).asc)
        Vec(a.frame.orderBy(keys ++ rest.toSeq: _*), a.keys, a.time, a.value,
          a.grid)

      // sort/sort_desc are presentation-only: order the compiled vector
      // by its value column (ties broken by the remaining columns for a
      // deterministic row order), values untouched
      case MathFn(name @ ("sort" | "sort_desc"), arg, _, _) =>
        val a = compile(t, arg, start, end, buckets, rollupStep)
        val vName = valueOf(a, arg)
        val v = if (name == "sort") col(vName).asc else col(vName).desc
        val rest = a.frame.columns.filterNot(_ == vName).map(col(_).asc)
        Vec(a.frame.orderBy(v +: rest.toSeq: _*), a.keys, a.time, a.value,
          a.grid)

      // pointwise math functions ride the compiled vector's value column
      case MathFn(name, arg, num, num2) =>
        val a = compile(t, arg, start, end, buckets, rollupStep)
        val v = col(valueOf(a, arg))
        // Prometheus: clamp with min > max returns the empty vector
        if (name == "clamp" && num.get > num2.get)
          a.copy(frame = a.frame.where(lit(false)), counts = false)
        else {
          val e = name match {
            case "abs" => cAbs(v)
            // Spark's ceil/floor return LONG on doubles; PromQL stays
            // float
            case "ceil" => cCeil(v).cast("double")
            case "floor" => cFloor(v).cast("double")
            case "sqrt" => org.apache.spark.sql.functions.sqrt(v)
            case "sgn" => org.apache.spark.sql.functions.signum(v)
            case "exp" => org.apache.spark.sql.functions.exp(v)
            case "ln" => org.apache.spark.sql.functions.log(v)
            case "log2" => org.apache.spark.sql.functions.log2(v)
            case "log10" => org.apache.spark.sql.functions.log10(v)
            // Prometheus round(): nearest multiple of `to`, ties up —
            // floor(v/to + 0.5)*to, the same IEEE ops the oracle runs
            case "round" =>
              val to = num.getOrElse(1.0)
              cFloor(v / lit(to) + lit(0.5)).cast("double") * lit(to)
            case "clamp_min" => greatest(v, lit(num.get))
            case "clamp_max" => least(v, lit(num.get))
            case "clamp" => least(greatest(v, lit(num.get)), lit(num2.get))
            // trig family: rounded to 6 decimals (see [[TrigFns]]) so
            // the exact-hash oracle tolerates libm ulp differences
            case tf if TrigFns(tf) =>
              val f = org.apache.spark.sql.functions
              val d = v.cast("double")
              val raw = tf match {
                case "sin" => f.sin(d); case "cos" => f.cos(d)
                case "tan" => f.tan(d); case "asin" => f.asin(d)
                case "acos" => f.acos(d); case "atan" => f.atan(d)
                case "sinh" => f.sinh(d); case "cosh" => f.cosh(d)
                case "tanh" => f.tanh(d); case "asinh" => f.asinh(d)
                case "acosh" => f.acosh(d); case "atanh" => f.atanh(d)
                case "deg" => f.degrees(d); case "rad" => f.radians(d)
              }
              round(raw, 6)
          }
          Vec(a.frame.withColumn("result", e), a.keys, a.time,
            Some("result"), a.grid)
        }

      case other if rollupStep.isDefined =>
        throw new IllegalArgumentException(
          s"only moment aggregations, vector matches and scalar ops over " +
          s"them can be served from the rollup tier, got: $other")
      // bare selector: the raw range scan (instant selectors span the
      // whole query range, like a Prometheus matrix at full resolution)
      case Selector(m, ms, _, off, _, _) =>
        Vec(t.queryRange(m, ms, start - off, end - off), None, None, None,
          None)

      // `group by (l)` — Prometheus's presence aggregator: 1 for every
      // populated (group, bucket) cell, a projection of the moments
      case Agg("group", _, _, by, sel: Selector, _) =>
        val g = gaugeFamily(t, sel, by, "moments", "group by", start, end)
        g.copy(frame = g.frame.select(by.map(col) ++
            Seq(col("bucket_start"), lit(1.0).as("group_v")): _*),
          keys = Some(by), value = Some("group_v"))

      // label aggregations over a plain selector → ONE hash aggregation
      // per (group, bucket): the moments, stddev/stdvar, quantile and
      // count_values shapes of the gauge family; count_values adds the
      // sample value to the grain
      case Agg(op, _, q, by, sel: Selector, _)
          if GaugeAggOps.contains(op) && (op == "quantile") == q.isDefined =>
        gaugeFamily(t, sel, by, GaugeAggOps(op), s"$op by", start, end,
            q = q)
          .copy(keys = if (op == "count_values") None else Some(by),
            value = AggCol.get(op), counts = MomentAggs(op))

      // moment aggregations over a RELABELED selector — the recording-rule
      // shape `sum by (dst)(label_replace(x[step], …))`. The rewrite runs
      // map-side BEFORE the grouping (matchers still see the original
      // labels, like Prometheus), so it fuses into the same single hash
      // aggregation at zero extra shuffles.
      case Agg(op, _, _, by, LabelFn(name, sel: Selector, args), _)
          if MomentAggs(op) =>
        gaugeFamily(t, sel, by, "moments", s"$op by ($name)", start, end,
            relabel = relabelOf(name, args))
          .copy(keys = Some(by), value = AggCol.get(op))

      // bare label_replace/label_join over a selector: the raw range scan
      // with the label map rewritten in flight
      case LabelFn(name, sel: Selector, args) =>
        Vec(t.queryRange(sel.metric, sel.matchers,
            start - sel.offsetSec, end - sel.offsetSec)
          .withColumn("labels", relabelOf(name, args)(col("labels"))),
          None, None, None, None)

      // custom output label: the same aggregation with the value column
      // surfaced under the requested name (a zero-cost projection). The
      // collision check re-runs here against the COMPILED columns — a
      // without(...) clause resolves to by-labels after parsing, so the
      // parse-time check alone could miss a resolved-grouping collision
      case ValueLabel(lbl, inner) =>
        val a = compile(t, inner, start, end, buckets, rollupStep)
        require(!a.frame.columns.contains(lbl),
          s"count_values output label '$lbl' collides with an output " +
          s"column (${a.frame.columns.mkString(", ")})")
        a.copy(frame = a.frame.withColumnRenamed("value", lbl))

      // rank and sample compositions over an inner sum-by, riding the
      // moments' group-sized output: topk/bottomk rank the sums per
      // bucket (ties break on the labels); the 3.x limitk keeps a
      // value-blind k-sample of groups, pinned to the md5-u32 of the
      // group labels (Tsdb.groupU32) so membership is stable across
      // runs, partitionings and engines, and limit_ratio keeps a ~r
      // fraction by the same hash — a negative r exactly the complement
      // of limit_ratio(1 + r), Prometheus's split-traffic idiom. Each
      // keeps at most the one sum row of a (group, bucket).
      case Agg(rank @ ("topk" | "bottomk" | "limitk"), Some(k), _, _,
          Agg("sum", _, _, by, sel: Selector, _), _) =>
        require(rank != "limitk" || k > 0, s"limitk k must be > 0: $k")
        val ord = rank match {
          case "topk" => col("sum_v").desc
          case "bottomk" => col("sum_v").asc
          case _ => Tsdb.groupU32(by, "lk").asc
        }
        val s = gaugeFamily(t, sel, by, "moments", s"$rank(sum by)", start,
          end)
        s.copy(frame = Tsdb.firstK(s.frame, Seq(col("bucket_start")),
              ord +: by.map(col), lit(k.toInt))
            .select(by.map(col) ++ Seq(col("bucket_start"), col("rk"),
              col("n"), col("sum_v")): _*),
          keys = Some(by), value = Some("sum_v"))
      case Agg("limit_ratio", _, Some(r), _,
          Agg("sum", _, _, by, sel: Selector, _), _) =>
        require(r >= -1.0 && r <= 1.0,
          s"limit_ratio r must be in [-1, 1]: $r")
        val u = Tsdb.groupU32(by, "lk")
        val space = 4294967296L // 2^32
        val keep =
          if (r >= 0) u < lit(math.floor(r * space).toLong)
          else u >= lit(math.floor((1.0 + r) * space).toLong)
        val s = gaugeFamily(t, sel, by, "moments", "limit_ratio(sum by)",
          start, end)
        s.copy(frame = s.frame.where(keep)
            .select(by.map(col) ++ Seq(col("bucket_start"),
              col("n"), col("sum_v")): _*),
          keys = Some(by), value = Some("sum_v"))

      // ranked counter form — `topk(k, sum by (l)(rate(x[1h])))`, the
      // canonical "top k by request rate" dashboard query (bottomk is
      // the ascending mirror); rate and increase rank identically
      // (same order, 1/step scale), both columns come back
      case Agg(rank @ ("topk" | "bottomk"), Some(k), _, _,
          Agg("sum", _, _, by, RangeFn(fn, _, sel, _, _), _), _)
          if fn == "rate" || fn == "increase" =>
        tumblingOnly(sel, s"$rank(sum by ($fn))")
        val inc = col("increase")
        val s = counterFamily(t, fn, sel, by, "sum", start, end, None)
        s.copy(frame = Tsdb.firstK(s.frame, Seq(col("bucket_start")),
              (if (rank == "topk") inc.desc else inc.asc) +: by.map(col),
              lit(k.toInt))
            .select(by.map(col) ++ Seq(col("bucket_start"), col("rk"),
              col("increase"), col("rate_per_sec")): _*),
          keys = Some(by), value = Some(counterCol(fn)))

      // the counter family under a label aggregation: `sum`, the
      // cross-series moments (avg(rate(...)) and friends) and the SLO
      // family's `quantile by (l) (0.9, rate(x[step]))`. Only `sum`
      // takes a selector [range:step], which pins the SLIDING eval grid
      // (`sum by (l)(rate(x[1h:1m]))` — a 1h-window rate every minute,
      // the plan the nested-subquery family rides)
      case Agg(op, _, q, by, RangeFn(fn, _, sel, _, _), _)
          if (MomentAggs(op) || (op == "quantile" && q.isDefined)) &&
            (fn == "rate" || fn == "increase") =>
        if (op != "sum") tumblingOnly(sel, s"$op($fn)")
        counterFamily(t, fn, sel, by, op, start, end, sel.stepSec, q)
          .copy(keys = Some(by), value = Some(counterValue(op, fn)))

      // resets / changes: each sample paired with its predecessor,
      // then the pairs counted per (by, t) on either grid; the bare
      // sliding form is per series (the metric's full label-key universe)
      case Agg("sum", _, _, by, RangeFn(fn @ ("resets" | "changes"), _, sel,
          _, _), _) =>
        val v = gaugeFamily(t, sel, by, "resets_changes", s"sum by ($fn)",
          start, end, sel.stepSec)
        v.copy(
          frame = v.frame.drop(if (fn == "resets") "changes" else "resets"),
          keys = Some(by), value = Some(fn))
      case RangeFn(fn @ ("resets" | "changes"), _, sel, by, _)
          if sel.stepSec.nonEmpty =>
        val keys = if (by.nonEmpty) by else labelKeys(t, sel.metric)
        val v = gaugeFamily(t, sel, keys, "resets_changes", fn, start, end,
          sel.stepSec)
        v.copy(
          frame = v.frame.drop(if (fn == "resets") "changes" else "resets"),
          keys = trailingBy(by), value = Some(fn))

      // BARE rate/increase/delta — the most common PromQL shape. With no
      // trailing `by`, the grouping is the metric's full label-key
      // universe, i.e. exactly per-series: the counter family's `sum`
      // returns both `increase` and `rate_per_sec`, callers project.
      // `rate(x[1h:1m])` is the sliding form (grid = the pinned step,
      // window = the selector range)
      case RangeFn(fn, _, sel, by, _) if fn == "rate" || fn == "increase" =>
        val keys = if (by.nonEmpty) by else labelKeys(t, sel.metric)
        counterFamily(t, fn, sel, keys, "sum", start, end, sel.stepSec)
          .copy(keys = trailingBy(by), value = Some(counterCol(fn)))

      case RangeFn("delta", _, sel, by, _) =>
        val keys = if (by.nonEmpty) by else labelKeys(t, sel.metric)
        gaugeFamily(t, sel, keys, "delta", "delta", start, end, sel.stepSec)
          .copy(keys = trailingBy(by), value = Some("delta"))

      // instant-pair family: per-series last-two-samples delta/rate; the
      // frame keeps sid, so it has no static keys
      case RangeFn(fn @ ("irate" | "idelta"), _, sel, by, _) =>
        gaugeFamily(t, sel, by, "last_two", fn, start, end, sel.stepSec)
          .copy(value = Some(fn))

      // the *_over_time family per series on the sliding eval grid;
      // the grid step defaults to the window (PromQL's default
      // query_range alignment), or is pinned independently by the
      // [range:step] subquery form. Each function projects its columns
      // of one gauge aggregation: the moments (the 3.x ts_of_* reads
      // one timestamp, a value tie to the LATEST sample; [range:step]
      // subquery steps and rules reject it, TsOfFns ∉ OverTime), the
      // integer-cents spread, or present_over_time's 1.0 for every
      // (series, eval point) holding a sample — every output row. The
      // trailing `by` projects labels onto per-series rows, so the frame
      // has no static keys.
      case RangeFn(fn, _, sel, by, _) if OverTime(fn) ||
          SpreadOverTime(fn) || TsOfFns(fn) || fn == "present_over_time" =>
        val (op, values) =
          if (SpreadOverTime(fn))
            ("spread", Seq(col("n"), col("stdvar_v"), col("stddev_v")))
          else if (TsOfFns(fn))
            ("moments", Seq(col(fn.stripSuffix("_over_time") + "_v")))
          else if (fn == "present_over_time")
            ("moments", Seq(lit(1.0).as("present_v")))
          else ("moments", OverTimeCols.map(col))
        val v = gaugeFamily(t, sel, by, op, fn, start, end,
          Some(sel.stepSec.getOrElse(stepOf(sel, fn))), perSeries = true)
        v.copy(frame = v.frame.select((by.map(col) :+ col("eval_ts")) ++
          values: _*), value = RangeCol.get(fn))

      // quantile_over_time and the 3.x robust spread mad_over_time
      // (exact median absolute deviation): per (group, step bucket)
      case RangeFn(fn @ ("quantile_over_time" | "mad_over_time"), q, sel,
          by, _) if (fn == "quantile_over_time") == q.isDefined =>
        gaugeFamily(t, sel, by, if (q.isDefined) "quantile" else "mad", fn,
            start, end, q = q)
          .copy(keys = trailingBy(by), value = Some(RangeCol(fn)))

      // the exact least-squares trend: `predict_linear(x[6h:1h], 1h)`
      // fits each trailing 6h window every hour, each extrapolating 1h
      // past its own eval point; with no step the fit spans the whole
      // query window. deriv() is its slope-only projection, per series
      // when no trailing `by` (the metric's label-key universe, like
      // bare rate)
      case RangeFn(fn @ ("predict_linear" | "deriv"), _, sel, by, at)
          if (fn == "predict_linear") == at.isDefined =>
        val keys =
          if (fn == "predict_linear" || by.nonEmpty) by
          else labelKeys(t, sel.metric)
        val fit = gaugeFamily(t, sel, keys, "trend", fn, start, end,
          sel.stepSec, horizonSec = at.getOrElse(0L))
        fit.copy(
          frame = if (fn == "deriv") fit.frame.drop("predicted") else fit.frame,
          keys = trailingBy(by), value = Some(RangeCol(fn)))

      case RangeFn("absent", _, sel, _, _) =>
        Vec(t.absentRange(sel.metric, sel.matchers,
          start - sel.offsetSec, end - sel.offsetSec), None, None, None, None)

      case RangeFn("absent_over_time", _, sel, _, _) =>
        val step = sel.stepSec.getOrElse(stepOf(sel, "absent_over_time"))
        Vec(t.absentOverTime(sel.metric, sel.matchers, start, end, step,
            stepOf(sel, "absent_over_time"), sel.offsetSec),
          None, Some("eval_ts"), None, Some((step, sel.offsetSec)))

      case RangeFn("histogram_quantile", Some(phi), sel, by, _) =>
        // bounds come from the caller, or — the Prometheus dialect — from
        // the metric's `le` label domain on the series DIMENSION (a
        // driver-bounded distinct over label values, the labelKeys idiom)
        val bounds = if (buckets.nonEmpty) buckets else leBounds(t, sel.metric)
        val step = stepOf(sel, "histogram_quantile")
        Vec(t.histogramQuantile(sel.metric, sel.matchers, start, end, by,
            step, phi, bounds, sel.offsetSec),
          trailingBy(by), Some("bucket_start"), Some("q"),
          Some((step, sel.offsetSec)))

      // Prometheus's CANONICAL classic-histogram quantile —
      // `histogram_quantile(0.9, sum by (le, cohort)(rate(bucket[5m])))`:
      // the body is the by-grain rate/increase of CUMULATIVE bucket
      // counters (the `le` label carries each bucket's upper bound);
      // the bucketQuantile interpolation then runs per (labels ∖ le,
      // grid point) over the tiny aggregated frame — a window over
      // groups × |buckets| rows, never sample grain.
      case HistQuantileAgg(phi, Agg("sum", None, None, by,
          RangeFn(fn, _, sel, Nil, _), Nil))
          if fn == "rate" || fn == "increase" =>
        require(by.contains("le"),
          "histogram_quantile over an aggregation needs `le` in the " +
          s"by-list (the bucket-bound label), got: by " +
          s"(${by.mkString(", ")})")
        tumblingOnly(sel, "histogram_quantile")
        val body = counterFamily(t, fn, sel, by, "sum", start, end, None)
        val keys = by.filterNot(_ == "le")
        body.copy(frame = Tsdb.histQuantileOnFrame(body.frame, keys, "le",
            "bucket_start", counterCol(fn), phi),
          keys = Some(keys), value = Some("q"))
      case hq: HistQuantileAgg => throw new IllegalArgumentException(
        "histogram_quantile over an aggregation supports `sum by " +
        "(le, l…)(rate|increase(bucket[d]))`, got: " + render(hq))

      case other =>
        throw new IllegalArgumentException(
          s"unsupported query shape: $other — supported: selector, " +
          "sum/avg/min/max/count/stddev/stdvar/quantile/count_values by, " +
          "topk/bottomk(k, sum by), sum by (rate|increase|resets|changes), " +
          "bare rate/increase/delta, irate/idelta, " +
          "*_over_time, quantile_over_time, predict_linear, absent, " +
          "holt_winters, vector matches and compares (arith, filter " +
          "`>`, `> bool`) between aggregated sides — moment " +
          "aggregations, aggregations over rate/increase — incl. " +
          "on()/ignoring() projection and group_left/group_right " +
          "(carried labels between moment aggregations only), " +
          "and/or/unless, `or vector(s)` gap fill, label_replace/" +
          "label_join, sort/sort_desc/sort_by_label[_desc], " +
          "scalar()/time() sides, scalar arithmetic and threshold filters")
    }
}

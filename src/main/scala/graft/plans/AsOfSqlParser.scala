package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.types.StructType

/** SQL-text front end for the native as-of join (SURVEY §7.3c — VERDICT r7
  * Missing #2): a delegating `ParserInterface` installed via
  * `SparkSessionExtensions.injectParser` that recognizes the DuckDB-style
  *
  * {{{
  *   SELECT ... FROM <rel> [AS] l
  *   ASOF [LEFT] JOIN <rel> [AS] r
  *     ON l.k = r.k [AND ...] AND l.ts >= r.ts
  *   [WHERE ...] [GROUP BY ...] [ORDER BY ...] [LIMIT ...]
  * }}}
  *
  * and plans it straight to [[AsOfJoin]] → [[AsOfJoinExec]] — the same
  * operator `Graft.asofJoin` builds, now reachable the way a user actually
  * queries. The inequality direction picks the variant: `l.ts >= r.ts` is
  * the backward join (latest right row at-or-before), `l.ts <= r.ts` the
  * forward one (earliest right row at-or-after); `ASOF LEFT JOIN` keeps
  * unmatched left rows with null right columns. Everything that is not an
  * `ASOF JOIN` query delegates untouched to Spark's own parser, so the
  * extension is inert on every other statement.
  *
  * Mechanics: a depth-0 token scan (parens, quotes, and comments tracked —
  * nothing inside a subquery or string literal is touched) locates
  * `FROM <left> ASOF [LEFT] JOIN <right> ON <cond>`; both side relations
  * are analyzed through the session (so views, subqueries, and column
  * resolution behave exactly as in any other query), the right side gets
  * fresh attribute ids (self-join safety — the same all-alias Project
  * `AsOfJoin.frame` wraps), the ON conjuncts are split into by-key
  * equalities and the single inclusive ts bound, and the resolved
  * [[AsOfJoin]] node is stitched into the delegate-parsed remainder of the
  * statement in place of a placeholder relation.
  *
  * Documented grammar bounds (errors are loud, never silently wrong):
  * exactly one ASOF JOIN at the top level, not mixed with other top-level
  * joins (pre-join in a subquery instead), ON conjuncts are plain column
  * references, and the ts bound is inclusive (`>=`/`<=` — DuckDB's strict
  * variants are rejected). Side relations MAY reference the statement's
  * own CTEs (r10): a leading WITH clause is carried into each side's
  * re-entrant analysis; an ASOF JOIN *inside* a CTE body is still
  * rejected (hoist it, or use Graft.asofJoin).
  */
class AsOfSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    if (AsOfSqlRewrite.isAsOfStatement(sqlText))
      AsOfSqlRewrite.rewrite(session, delegate, sqlText)
    else delegate.parsePlan(sqlText)

  override def parseQuery(sqlText: String): LogicalPlan =
    if (AsOfSqlRewrite.isAsOfStatement(sqlText))
      AsOfSqlRewrite.rewrite(session, delegate, sqlText)
    else delegate.parseQuery(sqlText)

  /** Spark 4.1 routes `spark.sql(text, args)` through THIS entry point
    * (the ParameterContext carries the named/positional bindings), and the
    * ParserInterface DEFAULT implementation discards the context — so a
    * delegating parser that does not forward it silently breaks every
    * parameterized query in the session (surfaces as
    * UNBOUND_SQL_PARAMETER at analysis). ASOF statements stay on the
    * rewrite path, which accepts no parameter markers — a parameterized
    * ASOF query fails loudly in the rewrite rather than mis-binding. */
  override def parsePlanWithParameters(
      sqlText: String,
      context: org.apache.spark.sql.catalyst.parser.ParameterContext): LogicalPlan =
    if (AsOfSqlRewrite.isAsOfStatement(sqlText))
      AsOfSqlRewrite.rewrite(session, delegate, sqlText)
    else delegate.parsePlanWithParameters(sqlText, context)

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

private[graft] object AsOfSqlRewrite {
  /** Cheap gate: only statements mentioning the word ASOF pay the token
    * scan, and only a real `ASOF [LEFT] JOIN` token sequence (not a string
    * literal, comment, or identifier named asof) is ours to parse. */
  private val AsOfWord = "(?i)\\bASOF\\b".r
  def isAsOfStatement(sql: String): Boolean =
    AsOfWord.findFirstIn(sql).isDefined && {
      val ts = tokens(sql)
      ts.indices.exists(i => ts(i).word == "ASOF" && isAsOfJoin(ts, i))
    }

  private val Placeholder = "graft_asof_placeholder"

  /** Word token: uppercased word + [start, end) offsets + paren depth. */
  private final case class Tok(word: String, start: Int, end: Int, depth: Int)

  /** Scan for word tokens, skipping string literals ('…' with '' doubling),
    * quoted identifiers ("…", `…`), -- line comments, and &#47;* *&#47; block
    * comments; parenthesis depth rides on each token. */
  private def tokens(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    val n = sql.length
    var i = 0
    var depth = 0
    while (i < n) {
      val c = sql.charAt(i)
      if (c == '\'' || c == '"' || c == '`') {
        i += 1
        while (i < n && sql.charAt(i) != c) i += 1
        i += 1 // closing quote ('' doubling re-enters the loop harmlessly)
      } else if (c == '-' && i + 1 < n && sql.charAt(i + 1) == '-') {
        while (i < n && sql.charAt(i) != '\n') i += 1
      } else if (c == '/' && i + 1 < n && sql.charAt(i + 1) == '*') {
        i += 2
        while (i + 1 < n && !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
        i += 2
      } else if (c == '(') { depth += 1; i += 1 }
      else if (c == ')') { depth -= 1; i += 1 }
      else if (c.isLetter || c == '_') {
        val s = i
        while (i < n && (sql.charAt(i).isLetterOrDigit || sql.charAt(i) == '_')) i += 1
        out += Tok(sql.substring(s, i).toUpperCase, s, i, depth)
      } else i += 1
    }
    out.result()
  }

  /** Is token i the ASOF of an `ASOF [LEFT] JOIN` sequence? (A column or
    * alias merely NAMED asof is not ours to parse.) */
  private def isAsOfJoin(ts: Vector[Tok], i: Int): Boolean =
    ts.lift(i + 1).exists(t => t.word == "JOIN" ||
      (t.word == "LEFT" && ts.lift(i + 2).exists(_.word == "JOIN")))

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"ASOF JOIN SQL: $msg")

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case x => Seq(x)
  }

  def rewrite(session: SparkSession, delegate: ParserInterface,
              sqlText: String): LogicalPlan = {
    val allToks = tokens(sqlText)
    val asofJoins = allToks.zipWithIndex.collect {
      case (t, i) if t.word == "ASOF" && isAsOfJoin(allToks, i) => t
    }
    if (asofJoins.exists(_.depth > 0))
      fail("ASOF JOIN inside a subquery or CTE body is not supported; " +
        "hoist it to the top level or use Graft.asofJoin")
    if (asofJoins.length > 1) fail("only one ASOF JOIN per statement is supported")
    val asof = asofJoins.head
    val toks = allToks.filter(_.depth == 0)
    val ai = toks.indexWhere(_.start == asof.start)

    val (outer, joinTok) = toks.lift(ai + 1) match {
      case Some(t) if t.word == "JOIN" => (false, t)
      case Some(t) if t.word == "LEFT" => toks.lift(ai + 2) match {
        case Some(j) if j.word == "JOIN" => (true, j)
        case _ => fail("expected JOIN after ASOF LEFT")
      }
      case _ => fail("expected [LEFT] JOIN after ASOF")
    }
    if (toks.exists(t => t.word == "JOIN" && t.start != joinTok.start))
      fail("ASOF JOIN cannot be mixed with other top-level joins; " +
        "wrap the other join in a subquery side")

    val fromToks = toks.filter(t => t.word == "FROM" && t.end < asof.start)
    if (fromToks.isEmpty) fail("no FROM clause before ASOF JOIN")
    val from = fromToks.last

    val onIdx = toks.indexWhere(t => t.word == "ON" && t.start >= joinTok.end)
    if (onIdx < 0) fail("ASOF JOIN requires an ON clause")
    val on = toks(onIdx)
    val terminators =
      Set("WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "UNION", "INTERSECT", "EXCEPT")
    val term = toks.drop(onIdx + 1).find(t => terminators(t.word))
    val condEnd = term.map(_.start).getOrElse(sqlText.length)

    val leftText = sqlText.substring(from.end, asof.start).trim
    val rightText = sqlText.substring(joinTok.end, on.start).trim
    val condText = sqlText.substring(on.end, condEnd).trim
    if (leftText.isEmpty || rightText.isEmpty || condText.isEmpty)
      fail("malformed ASOF JOIN clause (empty side or ON condition)")

    // CTE side-relations (VERDICT r8 #8): a statement-leading depth-0 WITH
    // clause ends where the MAIN query's SELECT begins (the first depth-0
    // SELECT — every CTE body's is inside its parens). Prepending that
    // prefix to each side's re-entrant analysis lets sides reference the
    // statement's own CTEs; the stitched outer statement keeps the same
    // prefix, where now-unreferenced defs are legal and pruned.
    val withPrefix =
      if (toks.headOption.exists(_.word == "WITH"))
        toks.find(_.word == "SELECT")
          .map(t => sqlText.substring(0, t.start) + " ").getOrElse("")
      else ""

    // Analyze each side through the session: views resolve, subqueries
    // analyze, and the outputs carry the side alias as their qualifier.
    // The re-entrant parse cannot recurse (nested ASOF was rejected above).
    val lPlan = session.sql(s"${withPrefix}SELECT * FROM $leftText").queryExecution.analyzed
    val rAnalyzed = session.sql(s"${withPrefix}SELECT * FROM $rightText").queryExecution.analyzed
    // Fresh exprIds on the right, qualifiers preserved — the same self-join
    // guard AsOfJoin.frame documents (the analyzer dedups conflicting ids
    // for built-in Join nodes only; a custom node must guarantee its own).
    val rAliases = rAnalyzed.output.map(a => Alias(a, a.name)(qualifier = a.qualifier))
    val rPlan = Project(rAliases, rAnalyzed)

    val resolver = session.sessionState.analyzer.resolver
    // Resolve an ON operand against exactly one side; true = left.
    def sideOf(e: Expression): (Expression, Boolean) = e match {
      case u: UnresolvedAttribute =>
        def strip(ne: NamedExpression): Expression = ne match {
          case Alias(child, _) => child
          case x => x
        }
        (lPlan.resolve(u.nameParts, resolver), rPlan.resolve(u.nameParts, resolver)) match {
          case (Some(a), None) => (strip(a), true)
          case (None, Some(a)) => (strip(a), false)
          case (Some(_), Some(_)) =>
            fail(s"column ${u.sql} in the ON clause matches BOTH sides; qualify it")
          case (None, None) =>
            fail(s"cannot resolve ${u.sql} in the ON clause against either side")
        }
      case other =>
        fail(s"ON clause supports plain column references only, got: ${other.sql}")
    }

    var leftKeys = Vector.empty[Expression]
    var rightKeys = Vector.empty[Expression]
    // (leftTs, rightTs, forward)
    var ts: Option[(Expression, Expression, Boolean)] = None
    def addTs(a: Expression, b: Expression, geq: Boolean): Unit = {
      if (ts.nonEmpty) fail("exactly one ts inequality is allowed in the ON clause")
      (sideOf(a), sideOf(b)) match {
        case ((ae, true), (be, false)) => ts = Some((ae, be, !geq))
        case ((ae, false), (be, true)) => ts = Some((be, ae, geq))
        case _ => fail("the ts inequality must compare a left column to a right column")
      }
    }
    conjuncts(delegate.parseExpression(condText)).foreach {
      case EqualTo(a, b) => (sideOf(a), sideOf(b)) match {
        case ((ae, true), (be, false)) => leftKeys :+= ae; rightKeys :+= be
        case ((ae, false), (be, true)) => leftKeys :+= be; rightKeys :+= ae
        case _ => fail("each ON equality must compare a left column to a right column")
      }
      case GreaterThanOrEqual(a, b) => addTs(a, b, geq = true)
      case LessThanOrEqual(a, b) => addTs(a, b, geq = false)
      case _: GreaterThan | _: LessThan =>
        fail("the ASOF match condition must be inclusive (>= or <=); " +
          "strict bounds are not supported by this engine")
      case other => fail(s"unsupported ON conjunct: ${other.sql}")
    }
    if (leftKeys.isEmpty) fail("ASOF JOIN needs at least one by-key equality in ON")
    val (lTs, rTs, forward) = ts.getOrElse(
      fail("ASOF JOIN needs one inclusive ts inequality in ON (e.g. l.ts >= r.ts)"))

    // The ON by-keys were written as SQL EQUALITIES, so a NULL right key
    // can never satisfy them — but the physical merge groups NULL keys
    // together (sort-order equality, see AsOfJoin's scaladoc). Filter
    // NULL-key right rows here to honor the equality the user wrote:
    // left NULL-key rows then match nothing (inner drops them, outer
    // null-fills), exactly SQL semantics (r21 fuzz: fuzzed NULL user_id
    // rows matched each other and diverged from the DuckDB oracle).
    val rFiltered = Filter(rightKeys.map(IsNotNull).reduce[Expression](And(_, _)), rPlan)
    val node = AsOfJoin(lPlan, rFiltered, leftKeys, rightKeys, lTs, rTs, outer, forward)

    // Delegate-parse the statement with the join clause replaced by a
    // placeholder relation, then stitch the resolved node in its place.
    val head = sqlText.substring(0, from.start)
    val tail = term.map(t => sqlText.substring(t.start)).getOrElse("")
    val outerPlan = delegate.parsePlan(s"$head FROM $Placeholder $tail")
    var replaced = false
    val stitched = outerPlan.transformUp {
      case u: UnresolvedRelation if u.multipartIdentifier == Seq(Placeholder) =>
        replaced = true; node
    }
    if (!replaced) fail("internal error: placeholder relation not found after rewrite")
    stitched
  }
}

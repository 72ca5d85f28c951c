package graft.plans

import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{
  And, Attribute, BinaryComparison, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual,
  PredicateHelper, SubqueryExpression, Unevaluable}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}

/** SQL-text spelling for the native as-of join — the `injectParser`
  * tier of the extension ladder (the one tier [[GraftExtensions]] had
  * not exercised). Accepts DuckDB's surface syntax
  *
  * {{{  left ASOF [LEFT | INNER] JOIN right
  *        ON l.k = r.k [AND …] AND r.ts <= l.ts          }}}
  *
  * and lowers it to [[AsOfJoinNode]] (→ the sorted-merge
  * [[AsOfJoinExec]]), so the IDENTICAL query text runs verbatim on
  * this engine and on DuckDB — the q27 shared-ANSI-text discipline
  * extended to an operator ANSI SQL does not have.
  *
  * How it lowers (three cooperating pieces, because the parsed tree is
  * unresolved and [[AsOfJoinNode]] needs resolved children):
  *
  *  1. [[GraftSqlParser]] — a delegating [[ParserInterface]]: scans the
  *     statement text with string literals / quoted identifiers /
  *     comments masked, replaces each `ASOF [LEFT|INNER] JOIN` with the
  *     plain join keyword, and hands the rewritten text to Spark's own
  *     parser. Everything non-ASOF takes the delegate path untouched.
  *  2. Marking — in the parsed (still unresolved) tree, each join that
  *     came from an ASOF rewrite gets [[GraftAsOfMarker]] AND-ed onto
  *     its condition. The rewritten joins are found STRUCTURALLY (a
  *     join of the right type whose ON clause has the as-of shape:
  *     ≥1 equality conjunct + exactly one strict-or-non-strict
  *     inequality between column expressions + any number of residual
  *     bounds with a literal operand — DuckDB's accepted surface,
  *     probed); the
  *     match count must equal the rewrite count, so a statement that
  *     also contains a PLAIN join with an as-of-shaped range condition
  *     is rejected loudly (split the statement) rather than guessed at.
  *     The walk descends into subquery-expression plans and EXPLAIN's
  *     inner plan, whose joins a plain child traversal never reaches.
  *     Marking (not direct conversion) is what lets the standard
  *     analyzer do ALL the hard work first: `DeduplicateRelations`
  *     de-aliases self-join attribute collisions for `Join` nodes, and
  *     `Join.resolved` implies the two sides' outputs are disjoint —
  *     guarantees a custom unresolved node would have had to rebuild.
  *  3. [[ResolveAsOfJoin]] — an injected resolution rule: once a marked
  *     join IS resolved, it splits the conjuncts, assigns each side by
  *     attribute ownership, normalizes the inequality to
  *     `leftTs >= rightTs`, and emits [[AsOfJoinNode]] — plus an
  *     `IS NOT NULL` filter on the right timestamp for the INNER
  *     variant (DuckDB's default `ASOF JOIN` drops unmatched left
  *     rows; `ASOF LEFT JOIN` null-pads, which is the node's native
  *     semantics).
  *
  * The marker is [[Unevaluable]]: if a marked join ever escaped the
  * rule (it cannot — the rule throws on any marked join it cannot
  * convert), execution would fail loudly instead of silently running a
  * plain join with different semantics.
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(sqlText: String): LogicalPlan =
    AsOfSqlRewrite(sqlText, delegate.parsePlan)
  override def parseQuery(sqlText: String): LogicalPlan =
    AsOfSqlRewrite(sqlText, delegate.parseQuery)
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

/** Analysis-time tag for a join produced by an `ASOF … JOIN` rewrite.
  * Lives only between parse and [[ResolveAsOfJoin]]; never executed. */
case class GraftAsOfMarker() extends Unevaluable {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = this
}

object AsOfSqlRewrite extends PredicateHelper {

  private val AsOfRe =
    """(?i)\bASOF\s+(?:(LEFT|INNER)\s+)?JOIN\b""".r

  /** One keyword replacement: [origStart, origEnd) of the original text
    * became [rwStart, rwEnd) of the rewritten text. */
  private final case class Rw(
      origStart: Int, origEnd: Int, rwStart: Int, rwEnd: Int)

  def apply(sqlText: String, parse: String => LogicalPlan): LogicalPlan = {
    val masked = maskNonCode(sqlText)
    val hits = AsOfRe.findAllMatchIn(masked).toSeq
    if (hits.isEmpty) return parse(sqlText)
    // splice the plain join keyword over each ASOF occurrence,
    // recording the span mapping (view-text restore needs it below)
    val sb = new StringBuilder
    var pos = 0
    var nLeft = 0
    var nInner = 0
    val spans = Seq.newBuilder[Rw]
    hits.foreach { m =>
      sb.append(sqlText.substring(pos, m.start))
      val rwStart = sb.length
      val isLeft = Option(m.group(1)).exists(_.equalsIgnoreCase("LEFT"))
      if (isLeft) { nLeft += 1; sb.append("LEFT JOIN") }
      else { nInner += 1; sb.append("JOIN") }
      spans += Rw(m.start, m.end, rwStart, sb.length)
      pos = m.end
    }
    sb.append(sqlText.substring(pos))
    val rewritten = sb.toString
    val plan = parse(rewritten)
    patchViewTexts(
      mark(plan, sqlText, nInner = nInner, nLeft = nLeft),
      sqlText, rewritten, spans.result())
  }

  /** CREATE/ALTER VIEW statements store the QUERY TEXT and re-parse it
    * on every later read — but the text the delegate captured is the
    * REWRITTEN one, where `ASOF` is gone, so a re-parse would silently
    * run a plain join with different semantics (caught by
    * AsOfSqlSpec's view test). Restore the ORIGINAL fragment by
    * mapping the stored substring's offsets back through the
    * recorded keyword replacements. */
  private def patchViewTexts(
      plan: LogicalPlan, orig: String, rw: String,
      spans: Seq[Rw]): LogicalPlan = {
    def back(frag: String): String = {
      val a = rw.indexOf(frag)
      if (a < 0) return frag // not a fragment of this statement
      val b = a + frag.length
      val intersects =
        spans.exists(s => s.rwStart < b && s.rwEnd > a)
      if (!intersects) return frag // no ASOF inside the view text
      if (rw.indexOf(frag, a + 1) >= 0)
        throw new IllegalArgumentException(
          "cannot uniquely locate the view query text inside an ASOF " +
            "JOIN statement (the fragment repeats); simplify the " +
            "statement or create the view from the DataFrame API")
      require(
        spans.forall(s =>
          s.rwEnd <= a || s.rwStart >= b ||
            (s.rwStart >= a && s.rwEnd <= b)),
        "rewritten ASOF span straddles the stored view-text boundary")
      def toOrig(p: Int): Int =
        p + spans.filter(_.rwEnd <= p)
          .map(s => (s.origEnd - s.origStart) - (s.rwEnd - s.rwStart)).sum
      orig.substring(toOrig(a), toOrig(b))
    }
    plan.transformDown {
      case c: org.apache.spark.sql.execution.command.CreateViewCommand
          if c.originalText.isDefined =>
        c.copy(originalText = c.originalText.map(back))
      case c: org.apache.spark.sql.catalyst.plans.logical.CreateView
          if c.originalText.isDefined =>
        c.copy(originalText = c.originalText.map(back))
      case c: org.apache.spark.sql.execution.command.AlterViewAsCommand =>
        c.copy(originalText = back(c.originalText))
    }
  }

  /** AND the marker onto every as-of-shaped join of each rewritten
    * type, insisting the structural matches tally with the text
    * rewrites — over-matching means the statement ALSO has a plain
    * join whose ON clause looks as-of-shaped, and guessing which was
    * which would silently change semantics. */
  private def mark(
      plan: LogicalPlan, original: String,
      nInner: Int, nLeft: Int): LogicalPlan = {
    var sawInner = 0
    var sawLeft = 0
    // One tree walk is not enough: a rewritten join can live inside a
    // subquery EXPRESSION (EXISTS / IN / scalar — the subplan hangs
    // off an expression, not a child) or under EXPLAIN (ExplainCommand
    // keeps its plan as innerChildren), and transformUp walks neither
    // — a join found only there would be falsely rejected as
    // 'ambiguous'. markTree recurses into both; the lowering side needs
    // no twin fix (subquery
    // plans are analyzed by the full analyzer via ResolveSubquery, and
    // EXPLAIN re-analyzes its inner plan at run time — both run the
    // injected resolution rules).
    def markTree(p: LogicalPlan): LogicalPlan = {
      val top = p.transformUp {
        case e: org.apache.spark.sql.execution.command.ExplainCommand =>
          e.copy(logicalPlan = markTree(e.logicalPlan))
        case j @ Join(_, _, Inner, Some(cond), _)
            if nInner > 0 && isAsOfShaped(cond) =>
          sawInner += 1
          j.copy(condition = Some(And(cond, GraftAsOfMarker())))
        case j @ Join(_, _, LeftOuter, Some(cond), _)
            if nLeft > 0 && isAsOfShaped(cond) =>
          sawLeft += 1
          j.copy(condition = Some(And(cond, GraftAsOfMarker())))
      }
      top.transformAllExpressions {
        case sq: SubqueryExpression => sq.withNewPlan(markTree(sq.plan))
      }
    }
    val marked = markTree(plan)
    if (sawInner != nInner || sawLeft != nLeft)
      throw new IllegalArgumentException(
        s"ASOF JOIN rewrite is ambiguous in this statement: the text has " +
          s"$nInner ASOF [INNER] JOIN + $nLeft ASOF LEFT JOIN, but " +
          s"$sawInner inner + $sawLeft left joins carry an as-of-shaped ON " +
          "clause (equality conjuncts plus exactly one >=/<= conjunct). " +
          "A plain JOIN with an as-of-shaped range condition cannot share " +
          "a statement with ASOF JOIN — split the statement or rewrite " +
          "the plain join's condition.\n" + original)
    marked
  }

  /** Foldable test that survives unresolved expressions (some
    * unresolved nodes throw from `foldable`). */
  private def foldableSafe(e: Expression): Boolean =
    try e.foldable catch { case _: Exception => false }

  /** An inequality conjunct with a FOLDABLE operand is a residual
    * bound (the tolerance spelling `l.ts - r.ts <= INTERVAL …`), not
    * the ASOF inequality itself — DuckDB classifies the same way:
    * the match inequality compares two column expressions. */
  private def isResidual(c: BinaryComparison): Boolean =
    foldableSafe(c.left) || foldableSafe(c.right)

  /** Pre-resolution shape test: every conjunct an equality, except
    * exactly one strict-or-non-strict inequality between two
    * non-foldable expressions (the ASOF match), plus any number of
    * residual bounds (see [[isResidual]]). DuckDB accepts strict
    * comparisons and residual tolerance conjuncts in ASOF ON
    * (probed on 1.0.0 — see the q55/q56 sites), so the shared-text
    * contract must too. */
  private def isAsOfShaped(cond: Expression): Boolean = {
    val cs = splitConjunctivePredicates(cond)
    val ineqs = cs.collect {
      case c @ (_: GreaterThanOrEqual | _: LessThanOrEqual |
                _: GreaterThan | _: LessThan) => c.asInstanceOf[BinaryComparison]
    }
    val asof = ineqs.filterNot(isResidual)
    val eq = cs.count(_.isInstanceOf[EqualTo])
    asof.size == 1 && eq >= 1 && eq + ineqs.size == cs.size
  }

  /** Mask string literals ('' with '' escapes), double-quoted strings,
    * backtick identifiers, `--` and bracketed comments with spaces, so
    * keyword scanning never fires inside them. Length-preserving. */
  private[plans] def maskNonCode(s: String): String = {
    val out = s.toCharArray
    var i = 0
    def blank(from: Int, until: Int): Unit = {
      var j = from
      while (j < until) { if (!out(j).isWhitespace) out(j) = ' '; j += 1 }
    }
    while (i < s.length) {
      s.charAt(i) match {
        case '\'' | '"' | '`' =>
          val q = s.charAt(i)
          var j = i + 1
          var closed = false
          while (j < s.length && !closed) {
            if (s.charAt(j) == '\\' && q != '`' && j + 1 < s.length) j += 2
            else if (s.charAt(j) == q) {
              // doubled quote = escaped quote inside the literal
              if (j + 1 < s.length && s.charAt(j + 1) == q) j += 2
              else { closed = true; j += 1 }
            } else j += 1
          }
          blank(i, j); i = j
        case '-' if i + 1 < s.length && s.charAt(i + 1) == '-' =>
          var j = i
          while (j < s.length && s.charAt(j) != '\n') j += 1
          blank(i, j); i = j
        case '/' if i + 1 < s.length && s.charAt(i + 1) == '*' =>
          val end = s.indexOf("*/", i + 2)
          val j = if (end < 0) s.length else end + 2
          blank(i, j); i = j
        case _ => i += 1
      }
    }
    new String(out)
  }
}

/** Lowers marked joins (see [[AsOfSqlRewrite]]) to [[AsOfJoinNode]]
  * once resolved. Registered via `injectResolutionRule`, so it runs
  * inside the analyzer's fixpoint — AFTER `DeduplicateRelations` has
  * made the two sides' outputs disjoint (`Join.resolved` implies it)
  * and attribute ownership is decidable. */
object ResolveAsOfJoin extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case j @ Join(l, r, jt, Some(cond), _)
          if j.resolved && cond.exists(_.isInstanceOf[GraftAsOfMarker]) =>
        val cs = splitConjunctivePredicates(cond)
          .filterNot(_.isInstanceOf[GraftAsOfMarker])
        def side(e: Expression): Option[Boolean] =
          if (e.references.nonEmpty && e.references.subsetOf(l.outputSet))
            Some(true)
          else if (e.references.nonEmpty && e.references.subsetOf(r.outputSet))
            Some(false)
          else None
        def oriented(a: Expression, b: Expression): (Expression, Expression) =
          (side(a), side(b)) match {
            case (Some(true), Some(false)) => (a, b)
            case (Some(false), Some(true)) => (b, a)
            case _ => fail(j,
              s"each ASOF JOIN conjunct must compare one left-side " +
                s"expression with one right-side expression; got ${a.sql} " +
                s"vs ${b.sql}")
          }
        val (eqs, rest) = cs.partition(_.isInstanceOf[EqualTo])
        val keys = eqs.map { case EqualTo(a, b) => oriented(a, b) }
        // residual bounds (tolerance conjuncts — a foldable operand)
        // vs THE asof inequality: same classification as the
        // pre-resolution shape test, now on resolved expressions
        val (resids, ineqs) = rest.partition {
          case c: BinaryComparison => c.left.foldable || c.right.foldable
          case _ => false
        }
        // normalize to leftTs >= rightTs ("right at or before left");
        // strict comparisons (DuckDB accepts them) lower to the exec's
        // strict-prior mode
        val (lts, rts, strict) = ineqs match {
          case Seq(c @ (_: GreaterThanOrEqual | _: GreaterThan)) =>
            val bc = c.asInstanceOf[BinaryComparison]
            val (x, _) = oriented(bc.left, bc.right)
            if (x eq bc.left) (bc.left, bc.right, c.isInstanceOf[GreaterThan])
            else fail(j, "ASOF requires left_ts >= right_ts (or the " +
              "mirrored <=); this GE/GT has the right side first")
          case Seq(c @ (_: LessThanOrEqual | _: LessThan)) =>
            val bc = c.asInstanceOf[BinaryComparison]
            val (x, _) = oriented(bc.left, bc.right)
            if (x eq bc.right) (bc.right, bc.left, c.isInstanceOf[LessThan])
            else fail(j, "ASOF requires right_ts <= left_ts (or the " +
              "mirrored >=); this LE/LT has the left side first")
          case other => fail(j,
            s"ASOF JOIN needs exactly one >=/<=/>/< match conjunct, got " +
              s"${other.map(_.sql).mkString(", ")}")
        }
        if (keys.isEmpty) fail(j, "ASOF JOIN needs at least one equality")
        val node =
          AsOfJoinNode(l, r, keys.map(_._1), keys.map(_._2), lts, rts, strict)
        // right-side attributes in post-join expressions must be the
        // node's OUTPUT instances (same exprIds, nullability widened)
        def onOutput(e: Expression): Expression = e.transform {
          case a: Attribute =>
            node.output.find(_.exprId == a.exprId).getOrElse(a)
        }
        // Residual bounds apply as a POST-JOIN FILTER — measured DuckDB
        // 1.0.0 behavior for the shared text (q55 site): under ASOF
        // LEFT JOIN a tolerance conjunct DROPS both stale-matched and
        // unmatched left rows (the bound is NULL on a null-padded row,
        // so the filter removes it) — filter semantics, not j11's
        // null-out. Matching most-recent-then-filtering equals
        // filtering-within-the-match for an upper staleness bound: a
        // newer prior row is never staler, so no discarded match could
        // have satisfied the bound when the kept one failed it.
        val withResid =
          if (resids.isEmpty) node
          else Filter(resids.map(onOutput).reduce(And), node)
        jt match {
          case LeftOuter => withResid
          case Inner =>
            // DuckDB's default ASOF JOIN is inner: drop unmatched left
            // rows. The node is natively left-outer; matched ⇔ the right
            // timestamp is non-null (null-ts right rows never match, so
            // a non-null rts in the output can only come from a match).
            Filter(IsNotNull(onOutput(rts)), withResid)
          case other =>
            fail(j, s"ASOF with join type $other is not supported")
        }
    }

  private def fail(j: Join, msg: String): Nothing =
    throw new IllegalArgumentException(
      s"cannot lower ASOF JOIN: $msg\n${j.simpleString(5)}")
}

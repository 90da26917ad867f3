package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{Star, UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedHaving, UnresolvedOrdinal, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, BinaryComparison, CaseWhen, EqualNullSafe, EqualTo, ExprId, Expression, GreaterThan, Literal, Not, Or, PredicateHelper, ScalarSubquery, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, GlobalLimit, Join, JoinHint, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias}
import org.apache.spark.sql.graftbridge.GraftBridge

/** Engine-surface repair of multi-level correlated subqueries — the
  * r13 battery rewrites promoted to a user-reachable capability (r14)
  * and generalized past the micro-schema naming convention (r15).
  *
  * qpmodel's binder resolves an outer reference from ANY enclosing
  * block for ANY schema (`/root/reference/qpmodel/Expr.cs:992-1021`);
  * Spark's analyzer resolves one level. The repairs are pattern-matching
  * transforms over the PARSED, UNRESOLVED Catalyst plan (the Spark SQL
  * paper's rule idiom): the parser already gives every block, conjunct
  * and column reference as a tree node, so no rewrite re-scans SQL text.
  * Column ownership is CATALOG-RESOLVED ([[StatementSchema]]): every
  * relation the statement names is resolved against the session
  * catalog, and a bare column classifies to the unique resolved table
  * whose schema carries it — ambiguity (two in-scope tables sharing the
  * name) or an unresolvable column DECLINES the rewrite, so the
  * original analyzer error stands. The same three rewrites, each firing
  * ONLY after Spark's analyzer rejects the statement:
  *
  *  - [[flattenTwoLevel]]: conjunctive two-level correlation → the
  *    inner block becomes a GROUPED derived table in the middle FROM,
  *    with a `raise_error` guard that keeps scalar semantics exact;
  *  - [[hoistTwoLevelScalar]]: DISJUNCTIVE middle WHERE (where a
  *    flatten would be wrong) → the middle-skipping inner scalar is
  *    precomputed as a grouped left join at the outer block;
  *  - [[liftGroupedScalarSubquery]]: correlated scalar subquery in a
  *    grouped select list → aggregate first, then apply the list
  *    (schema-free: its guards are structural only).
  *
  * Each emits the tree the equivalent rewritten SQL text parses to,
  * with the generated names `__q<n>_<key>`, `__q<n>_v`, `__q<n>_c`,
  * `__iv`, `__s`, `__k`, `__v`, `__c` and `__g`.
  *
  * Gated by `spark.graft.sql.correlationRepair` (default false — the
  * repair is OPT-IN: a clean statement is never rewritten either way,
  * but an engine should not silently transform failing SQL unless
  * asked). [[graft.SqlRunner]] consults the conf on its statement
  * path; UnitMiner replays the battery through the same repair loop.
  */
object CorrelationRepair extends PredicateHelper {

  val ConfKey = "spark.graft.sql.correlationRepair"

  def enabled(spark: SparkSession): Boolean =
    spark.conf.getOption(ConfKey).exists(_.toBoolean)

  // ------------------------------------------------- schema resolution

  /** Catalog-resolved column→table attribution for ONE statement: every
    * relation the parsed statement names, in any block, each resolved
    * through the session catalog — temp views and catalog tables
    * alike — to its lowercase column set. Names that do not resolve
    * (CTE names, missing tables) are simply absent; classification
    * then declines on their columns, which is the safe direction (the
    * rewrite refuses, the original analyzer error stands).
    */
  final case class StatementSchema(tables: Map[String, Set[String]]) {
    /** In-scope tables whose schema carries `col`. */
    def owners(col: String): Set[String] = {
      val c = col.toLowerCase
      tables.collect { case (t, cs) if cs(c) => t }.toSet
    }
  }

  object StatementSchema {
    def of(spark: SparkSession, plan: LogicalPlan): StatementSchema =
      StatementSchema(relations(plan).distinct.flatMap { name =>
        scala.util.Try(spark.table(name).schema.fieldNames.toSet)
          .toOption.map(cols =>
            name.toLowerCase -> cols.map(_.toLowerCase))
      }.toMap)
  }

  /** Names of the relations `plan` scans, subqueries included. */
  private def relations(plan: LogicalPlan): Seq[String] =
    plan.collectWithSubqueries { case r: UnresolvedRelation => r.tableName }

  /** Unqualified column names in `e`, lowercased. */
  private def bare(e: Expression): Seq[String] = e.collect {
    case a: UnresolvedAttribute if a.nameParts.size == 1 =>
      a.nameParts.head.toLowerCase
  }

  /** The `A` of each qualified `A.B` reference in `e`, lowercased. */
  private def qualifierNames(e: Expression): Seq[String] = e.collect {
    case a: UnresolvedAttribute if a.nameParts.size > 1 =>
      a.nameParts.head.toLowerCase
  }

  /** Subquery expressions of `plan`'s own blocks (not of nested ones). */
  private def subqueries(plan: LogicalPlan): Seq[SubqueryExpression] =
    plan.flatMap(_.expressions.flatMap(_.collect {
      case s: SubqueryExpression => s }))

  /** `t0 AND … AND tn` as the parser builds it from SQL text: a
    * balanced tree, so a rewrite emits the tree its text form parses to.
    */
  private def conjoin(ts: Seq[Expression]): Expression =
    if (ts.size == 1) ts.head
    else {
      val (l, r) = ts.splitAt((ts.size + 1) / 2)
      And(conjoin(l), conjoin(r))
    }

  private def col(parts: String*): UnresolvedAttribute =
    UnresolvedAttribute(parts.toSeq)

  private def call(fn: String, args: Expression*): UnresolvedFunction =
    UnresolvedFunction(fn, args.toSeq, isDistinct = false)

  /** The inner block re-aggregated per correlation key:
    * `(select k as kName…, max(e) as v, count(*) as c from rel
    * [where locals] group by k…) alias`.
    */
  private def grouped(alias: String, keys: Seq[(Expression, String)],
      e: Expression, v: String, c: String, locals: Seq[Expression],
      rel: LogicalPlan): LogicalPlan =
    SubqueryAlias(alias, Aggregate(keys.map(_._1),
      keys.map { case (k, name) => Alias(k, name)() } :+
        Alias(call("max", e), v)() :+
        Alias(call("count", Literal(1)), c)(), // count(*) as parsed
      if (locals.isEmpty) rel else Filter(conjoin(locals), rel)))

  /** `value`, or the same runtime error the scalar-subquery form raises
    * when `tooMany` holds.
    */
  private def scalarValue(tooMany: Expression, value: Expression): Expression =
    CaseWhen(Seq(tooMany -> call("raise_error",
      Literal("scalar subquery returned more than one row"))), Some(value))

  /** The inner block both two-level rewrites accept:
    * `select e from t where p` over one unaliased single-name table,
    * yielding (e, t, p); `e`, re-aggregated as `max(e)`, is free of
    * calls, aliases, stars and subqueries. A DISTINCT, GROUP BY, ORDER
    * BY or LIMIT wraps the Project in its own node and so declines:
    * DISTINCT would make count(*) count pre-distinct rows and raise a
    * spurious scalar error where the original deduplicates; a
    * LIMIT/GROUP BY/ORDER has no place in the generated derived table.
    */
  private object InnerBlock {
    def unapply(p: LogicalPlan)
        : Option[(Expression, UnresolvedRelation, Expression)] = p match {
      case Project(Seq(item), Filter(cond, r @ UnresolvedRelation(Seq(_), _, _))) =>
        val e = item match {
          case UnresolvedAlias(c, _) => c
          case other => other
        }
        val plain = !e.exists {
          case _: UnresolvedFunction | _: Alias | _: Star |
               _: SubqueryExpression => true
          case _ => false
        }
        if (plain) Some((e, r, cond)) else None
      case _ => None
    }
  }

  /** The correlation repairs keyed by analyzer error: conjunctive
    * contexts flatten; the disjunctive shape the flatten must refuse
    * hoists instead (sound under OR); grouped scalar subqueries lift.
    * None for any other error. Schema-dependent rewrites resolve
    * column ownership against `spark`'s catalog at repair time.
    */
  def correlationRepairs(spark: SparkSession)(
      msg: String, plan: LogicalPlan): Option[LogicalPlan] =
    if (msg.contains("UNRESOLVED_COLUMN")) {
      val schema = StatementSchema.of(spark, plan)
      flattenTwoLevel(plan, schema)
        .orElse(hoistTwoLevelScalar(plan, schema))
    }
    else if (msg.contains(
        "SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION"))
      liftGroupedScalarSubquery(plan)
    else None

  /** Analyze `sql`, applying the error-triggered repairs (at most once
    * each) — statements that analyze clean are NEVER rewritten.
    */
  def analyzeRepaired(spark: SparkSession, sql: String): DataFrame =
    analyzeRepairedWith(spark, sql, correlationRepairs(spark))

  /** The shared repair driver (UnitMiner's battery replay composes its
    * two plan shims onto the same loop): analyze `spark.sql(sql)`; on a
    * NON-FATAL failure parse the statement and consult
    * `repairs(message, currentPlan)`; retry the repaired plan, at most
    * twice. When a rewrite was applied but the rewritten plan fails
    * with no further repair, the ORIGINAL statement's error surfaces
    * (the user never wrote the rewritten plan — its error would quote
    * alien internals), with the later failure attached as suppressed.
    * Fatal VM errors propagate untouched.
    */
  def analyzeRepairedWith(spark: SparkSession, sql: String,
      repairs: (String, LogicalPlan) => Option[LogicalPlan]): DataFrame = {
    def attempt(plan: Option[LogicalPlan], attempts: Int,
        first: Option[Throwable]): DataFrame =
      try {
        val df = plan.fold(spark.sql(sql))(GraftBridge.ofRows(spark, _))
        df.schema // force analysis so repairs trigger here, not later
        df
      } catch {
        case scala.util.control.NonFatal(e) =>
          val original = first.getOrElse(e)
          val msg = Option(e.getMessage).getOrElse("")
          val next = if (attempts >= 2) None else scala.util.Try(
            plan.getOrElse(spark.sessionState.sqlParser.parsePlan(sql)))
            .toOption.flatMap(p => repairs(msg, p).filter(_ != p))
          next match {
            case Some(p) => attempt(Some(p), attempts + 1, Some(original))
            case None =>
              if (!(e eq original)) original.addSuppressed(e)
              throw original
          }
      }
    attempt(None, 0, None)
  }

  // ------------------------------------------------------ the flatten

  private sealed trait Conj
  /** Inner-owned columns only: stays inside the derived table. */
  private final case class LocalC(e: Expression) extends Conj
  /** No inner-table reference at all: constant per correlation binding. */
  private final case class FreeC(e: Expression) extends Conj
  /** `innerCol = expr(no inner refs)`: a grouping key. */
  private final case class KeyEq(key: String, ex: Expression) extends Conj

  /** Ownership of `e`'s bare columns relative to table `tbl`:
    * Some(true) all inner-owned, Some(false) none inner-owned (or no
    * bare column: constants are not inner-local), None
    * mixed/ambiguous/unresolvable (decline).
    */
  private def ownership(e: Expression, tbl: String,
      schema: StatementSchema): Option[Boolean] = {
    val owners = bare(e).map(schema.owners)
    if (owners.exists(_.size != 1)) None
    else owners.map(_.head == tbl).distinct match {
      case Seq() => Some(false)
      case Seq(inner) => Some(inner)
      case _ => None // mixed inner/outer inside one expression
    }
  }

  /** One inner conjunct's class, None when it fits none (decline). */
  private def classify(c: Expression, tbl: String,
      schema: StatementSchema): Option[Conj] = {
    def outerOnly(e: Expression) = bare(e).forall { t =>
      val o = schema.owners(t)
      o.nonEmpty && !o.contains(tbl)
    }
    def isKey(e: Expression) = e match {
      case a: UnresolvedAttribute =>
        a.nameParts.size == 1 && schema.owners(a.nameParts.head) == Set(tbl)
      case _ => false
    }
    // Inner-table-QUALIFIED references (customer.c_acctbal where
    // customer IS the inner table) carry no bare columns, so every test
    // below must consult the qualified references too — a bare-only test
    // classified such a conjunct FREE and moved an inner-local filter
    // out of the derived table (r15 review: silent wrong results when
    // the middle scans the same table).
    val qs = qualifierNames(c)
    if (qs.contains(tbl)) {
      // references the inner table by name: LOCAL only when everything
      // else in the conjunct is inner too
      if (qs.forall(_ == tbl) &&
          (bare(c).isEmpty || ownership(c, tbl, schema).contains(true)))
        Some(LocalC(c))
      else None // inner refs mixed with other scopes: decline
    }
    else if (qs.isEmpty && ownership(c, tbl, schema).contains(true))
      Some(LocalC(c))
    else if (outerOnly(c)) Some(FreeC(c))
    else c match {
      case EqualTo(l, r) =>
        val keyEx =
          if (isKey(l)) Some((l, r)) else if (isKey(r)) Some((r, l)) else None
        // the expression side must be free of inner-table references
        // (bare OR qualified) and unresolvable bare columns (other
        // qualified refs are middle/outer scope and fine)
        keyEx.collect { case (k: UnresolvedAttribute, ex)
            if !qualifierNames(ex).contains(tbl) && outerOnly(ex) =>
          KeyEq(k.nameParts.head.toLowerCase, ex)
        }
      case _ => None
    }
  }

  /** The block's WHERE: the Filter under its select list and trailing
    * clauses. GROUP BY, HAVING, DISTINCT, ORDER BY and LIMIT are their
    * own nodes ABOVE it, so conjuncts appended to the WHERE can never
    * merge into one of those clauses.
    */
  private def whereOf(block: LogicalPlan): Option[Filter] = block match {
    case f: Filter => Some(f)
    case p @ (_: Project | _: Aggregate | _: UnresolvedHaving | _: Distinct |
              _: Sort | _: GlobalLimit | _: LocalLimit) =>
      whereOf(p.children.head)
    case _ => None
  }

  /** `lhs op (subquery)`: the subquery operand of a comparison conjunct. */
  private def comparedSubquery(c: Expression): Option[ScalarSubquery] =
    c match {
      case b: BinaryComparison if !b.isInstanceOf[EqualNullSafe] =>
        b.right match {
          case s: ScalarSubquery if !SubqueryExpression.hasSubquery(b.left) =>
            Some(s)
          case _ => None
        }
      case Not(e: EqualTo) => comparedSubquery(e)
      case _ => None
    }

  /** Two-level correlation flatten. qpmodel resolves an outer reference
    * from ANY enclosing block (`select a1 from a where a.a1 = (select b1
    * from b bo where … b1 = (select b1 from b where b3 = a3 …))` — the
    * innermost subquery reads `a3` two levels up); Spark resolves outer
    * references one block deep only (UNRESOLVED_COLUMN). The decidable
    * shapes — the inner scalar subquery is single-table, its WHERE a
    * pure conjunction whose correlated conjuncts are EQUALITIES
    * `innerCol = expr` (expr free of inner-table references), and it
    * is the right operand of a comparison that is itself a conjunct of
    * the middle block's WHERE — flatten mechanically: the inner block
    * becomes a derived table in the MIDDLE block's FROM, GROUPED by the
    * moved equality keys and carrying `max(selExpr)` + `count(*)`; the
    * comparison operand becomes a CASE that raises the scalar >1-row
    * error when the matched group's count exceeds 1, and each moved
    * equality joins the derived key to its (now one-level-up, which
    * Spark supports) expression. Per correlation binding the equality
    * keys select at most ONE group, so middle rows are never
    * duplicated; count > 1 raises exactly where the subquery form
    * raises; an empty group drops the row exactly as a NULL scalar
    * makes the comparison UNKNOWN (r15 — value-exact for any data, not
    * just corpora with unique inner keys).
    *
    * Column classification is catalog-resolved via `schema` (r15):
    * a conjunct is inner-local when all its bare columns are owned by
    * the inner table ALONE among the statement's tables; a correlated
    * equality's key side must be a single bare inner column and its
    * expression side free of inner-owned or unresolvable bare columns.
    * Any ambiguity — a column name two in-scope tables share, a column
    * no resolved table carries — declines the middle block (None when
    * no block flattened; the original analyzer error stands).
    * Disjunctive contexts (UnitTest.cs:1062's `… or b1 = (subq)`) are
    * NOT flattened — an inner join is wrong under OR — and fall
    * through to [[hoistTwoLevelScalar]].
    */
  def flattenTwoLevel(plan: LogicalPlan,
      schema: StatementSchema): Option[LogicalPlan] = {
    val names = Iterator.from(1).map(n => s"__q$n")
    // middle blocks: subqueries that contain another subquery;
    // rewrite right-to-left
    val healed = subqueries(plan)
      .filter(m => subqueries(m.plan).nonEmpty).reverse
      .flatMap(m => flattenMiddle(m.plan, schema, names)
        .map(m.exprId -> _))
      .toMap
    if (healed.isEmpty) None
    else Some(plan.transformAllExpressions {
      case s: SubqueryExpression if healed.contains(s.exprId) =>
        s.withNewPlan(healed(s.exprId))
    })
  }

  /** Flatten the leaf scalar subqueries compared in ONE middle block's
    * WHERE, rightmost first; None if nothing flattened or any candidate
    * declines.
    */
  private def flattenMiddle(mid: LogicalPlan, schema: StatementSchema,
      names: Iterator[String]): Option[LogicalPlan] = whereOf(mid).flatMap {
    where =>
      val spans = for {
        s <- splitConjunctivePredicates(where.condition).flatMap(comparedSubquery).reverse
        if subqueries(s.plan).isEmpty
        (sel, rel, preds) <- InnerBlock.unapply(s.plan)
        tbl = rel.tableName.toLowerCase
        if !preds.isInstanceOf[Or] && schema.tables.contains(tbl) &&
          ownership(sel, tbl, schema).contains(true)
      } yield (s, sel, rel, splitConjunctivePredicates(preds).map(classify(_, tbl, schema)))
      val (cond, from) =
        if (spans.exists(_._4.contains(None))) (where.condition, where.child)
        else spans.foldLeft((where.condition, where.child)) {
          case ((cond, from), (s, sel, rel, classified)) =>
            val conjs = classified.flatten
            val local = conjs.collect { case LocalC(c) => c }
            val free = conjs.collect { case FreeC(c) => c }
            val moved = conjs.collect { case k: KeyEq => k }
            if (moved.isEmpty) (cond, from)
            else {
              val q = names.next()
              val keys = moved.map(_.key).distinct
              val derived = grouped(q, keys.map(k => (col(k), s"${q}_$k")),
                sel, s"${q}_v", s"${q}_c", local, rel)
              val joinEqs =
                moved.map(m => EqualTo(col(q, s"${q}_${m.key}"), m.ex))
              // The error guard must re-state EVERYTHING that gates row
              // membership — the key equalities AND the free conjuncts —
              // because the CASE can be evaluated for (middle row,
              // derived group) pairs the appended join conjuncts later
              // reject (decorrelation pulls the key equalities up as
              // join conditions, leaving this comparison to run over ALL
              // groups): a duplicate-key group no binding matches must
              // NOT raise. For the matched group the equalities are true
              // and the guard reduces to free + count, the reference's
              // semantics. A false free conjunct means the subquery
              // matched ZERO rows, so no error may fire no matter the
              // group count.
              val guard = conjoin(joinEqs ++ free :+
                GreaterThan(col(q, s"${q}_c"), Literal(1)))
              val guarded = scalarValue(guard, col(q, s"${q}_v"))
              val replaced = cond.transform {
                case x: ScalarSubquery if x.exprId == s.exprId => guarded
              }
              (conjoin(splitConjunctivePredicates(replaced) ++ joinEqs ++ free),
                Join(from, derived, Inner, None, JoinHint.NONE))
            }
        }
      if (from eq where.child) None
      else Some(mid.transformDown {
        case f: Filter if f eq where => Filter(cond, from)
      })
  }

  // --------------------------------------------------------- the hoist

  /** Two-level correlation under a DISJUNCTIVE middle WHERE — the one
    * shape [[flattenTwoLevel]] must refuse (an inner join drops rows
    * the OR's other arm admits; UnitTest.cs:1062). The sound rewrite is
    * a HOIST, valid in any boolean context: when the innermost scalar
    * subquery's correlated references all skip the middle block (they
    * name OUTER-block columns only), its value is a constant per outer
    * row — precompute it at the outer FROM and reference `__iv` from
    * the middle block, now one level up, which Spark resolves
    * (DuckDB-adjudicated on the battery case: 0;1;2 both forms).
    *
    * The precomputation is a GROUPED LEFT JOIN, not a projected scalar
    * subquery: stacking a scalar-subquery projection under a second
    * correlated subquery that references it trips Spark's
    * decorrelation (measured: spurious SCALAR_SUBQUERY_TOO_MANY_ROWS
    * at runtime; INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND with first()). The
    * inner `(select E from t2 where key = f(outer) and locals)`
    * becomes `left join (select key, max(E), count(*) from t2 where
    * locals group by key) on key = f(outer)`, with scalar semantics
    * preserved exactly: no match → NULL (left join), >1 match →
    * runtime error (CASE + raise_error, the same error the subquery
    * form raises). One disclosed boundary: the error is EAGER per
    * outer row — a duplicate-key inner group raises even when the
    * middle block is empty and a lazy nested-loop evaluator would
    * never have evaluated the inner at all. This matches how Spark
    * itself treats subquery evaluation order (subqueries run before
    * the consuming operator decides row-by-row relevance); exact
    * laziness would require runtime machinery out of scope for a plan
    * rewrite.
    *
    * Guards (all catalog-resolved via `schema` since r15): the
    * statement is one `select … from t [alias] where …` block over a
    * resolved table (no GROUP BY/ORDER/LIMIT), the first leaf subquery
    * nested in another is a scalar over the inner shape, every
    * correlated bare column in the inner is owned by the OUTER table
    * alone with the middle block not scanning that table (capture),
    * inner WHERE a conjunction with exactly ONE correlated conjunct of
    * the form `col = expr(outer)` — anything else returns None so the
    * original error stands.
    */
  def hoistTwoLevelScalar(plan: LogicalPlan,
      schema: StatementSchema): Option[LogicalPlan] = plan match {
    case Project(selList, Filter(w, rel)) =>
      val (t, alias) = rel match {
        case r @ UnresolvedRelation(Seq(name), _, _) =>
          (r.tableName.toLowerCase, name)
        case SubqueryAlias(id, r @ UnresolvedRelation(Seq(_), _, _))
            if id.qualifier.isEmpty => (r.tableName.toLowerCase, id.name)
        case _ => return None
      }
      if (!schema.tables.contains(t)) return None
      val (inner, middle) = w.collect { case s: SubqueryExpression => s }
          .iterator.flatMap(firstNestedLeaf).nextOption() match {
        case Some(pair) => pair
        case None => return None
      }
      val innerTables = relations(inner.plan).map(_.toLowerCase).toSet
      val midTables = relations(middle.plan).diff(relations(inner.plan))
        .map(_.toLowerCase).toSet
      // correlated owners among the inner's bare columns: columns owned
      // by a resolved table that is not one of the inner's own;
      // unresolvable columns are ignored — an over-claimed column can
      // only make the guards refuse, never mis-rewrite.
      val corr = inner.plan.flatMap(_.expressions.flatMap(bare)).flatMap { c =>
        val o = schema.owners(c)
        if (o.size == 1 && !innerTables(o.head)) Some(o.head) else None
      }.toSet
      if (corr != Set(t) || midTables.contains(t)) return None
      val (e, innerRel, conds) = inner.plan match {
        case InnerBlock(e0, r0, c0) if inner.isInstanceOf[ScalarSubquery] =>
          (e0, r0, c0)
        case _ => return None
      }
      val t2 = innerRel.tableName.toLowerCase
      // a disjunctive inner WHERE cannot be split into conjuncts (the
      // AND-split of `k = outer and x=1 or y=2` silently re-associates
      // the OR): decline (r15 review)
      if (conds.isInstanceOf[Or]) return None
      if (!bare(e).forall(c => schema.owners(c) == Set(t2))) return None
      def ownersOf(x: Expression) = bare(x).flatMap(schema.owners).toSet
      val (corrConj, localConj) = splitConjunctivePredicates(conds)
        .partition(c => (ownersOf(c) -- innerTables).nonEmpty)
      def isKey(x: Expression) =
        x.isInstanceOf[UnresolvedAttribute] && bare(x).size == 1 &&
          ownersOf(x) == Set(t2)
      val (key, corrExpr) = corrConj match {
        case Seq(EqualTo(l, r)) if isKey(l) && ownersOf(r) == corr => (l, r)
        case Seq(EqualTo(l, r)) if isKey(r) && ownersOf(l) == corr => (r, l)
        case _ => return None
      }
      val iv = Alias(scalarValue(GreaterThan(col("__s", "__c"), Literal(1)),
        col("__s", "__v")), "__iv")()
      val pre = SubqueryAlias(alias, Project(
        Seq(UnresolvedStar(Some(Seq(alias))), iv),
        Join(rel, grouped("__s", Seq((key, "__k")), e, "__v", "__c",
          localConj, innerRel), LeftOuter,
          Some(EqualTo(col("__s", "__k"), corrExpr)), JoinHint.NONE)))
      val newW = replaceSubquery(Filter(w, rel), inner.exprId, col("__iv"))
        .asInstanceOf[Filter].condition
      Some(Project(selList, Filter(newW, pre)))
    case _ => None
  }

  /** The first (in statement order) leaf subquery nested inside
    * `parent`, with its enclosing subquery.
    */
  private def firstNestedLeaf(parent: SubqueryExpression)
      : Option[(SubqueryExpression, SubqueryExpression)] =
    subqueries(parent.plan).iterator.flatMap { k =>
      if (subqueries(k.plan).isEmpty) Some((k, parent))
      else firstNestedLeaf(k)
    }.nextOption()

  private def replaceSubquery(plan: LogicalPlan, id: ExprId,
      by: Expression): LogicalPlan =
    plan.transformAllExpressionsWithSubqueries {
      case s: SubqueryExpression if s.exprId == id => by
    }

  // ---------------------------------------------------------- the lift

  /** Correlated scalar subquery in a grouped select list
    * (UnitTest.cs:1392: `select a1, 5+(select b2 from b where b1=a1)
    * from a group by 1`). qpmodel evaluates the subquery per GROUP —
    * legal because its only correlated references are grouping keys —
    * while Spark demands the subquery itself appear in GROUP BY or an
    * aggregate (SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION).
    * When every grouping key is a plain column and the select list
    * outside subqueries references ONLY those keys (no aggregate
    * functions), grouping and subquery evaluation commute: aggregate
    * first in a derived table, then apply the select list — the
    * subquery now correlates to an ordinary (post-group) column.
    * Statements with a trailing HAVING/ORDER/LIMIT (a node above the
    * Aggregate) or expression keys are left alone (None → the original
    * error stands). Schema-free: the guards are structural (keys plain
    * columns; outside subqueries the select list reads only keys, calls
    * only abs/round and carries no alias), so no catalog resolution is
    * needed.
    */
  def liftGroupedScalarSubquery(plan: LogicalPlan): Option[LogicalPlan] =
    plan match {
      case Aggregate(grouping, items, child, _) =>
        val keys = grouping.map {
          case UnresolvedOrdinal(i) if i >= 1 && i <= items.size =>
            items(i - 1) match {
              case Alias(c, _) => c
              case item => item
            }
          case k => k
        }.collect {
          case a: UnresolvedAttribute if a.nameParts.size == 1 => a
        }
        if (keys.size != grouping.size) return None
        val keyCols = keys.map(_.nameParts.head.toLowerCase).toSet
        val keysOnly = items.forall(!_.exists {
          case a: UnresolvedAttribute =>
            a.nameParts.size > 1 || !keyCols(a.nameParts.head.toLowerCase)
          case f: UnresolvedFunction =>
            !Seq(Seq("abs"), Seq("round")).contains(f.nameParts.map(_.toLowerCase))
          case _: Alias | _: Star => true
          case _ => false
        })
        if (!keysOnly) None
        else Some(Project(items,
          SubqueryAlias("__g", Aggregate(keys, keys, child))))
      case _ => None
    }
}

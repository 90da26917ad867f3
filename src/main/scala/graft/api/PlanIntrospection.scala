package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, ShuffledJoin, SortMergeJoinExec}

/** Queryable optimizer introspection — the reference exposes its memo as
  * system tables (`sys_memo_expr` / `sys_memo_property`,
  * `/root/reference/qpmodel/optimizer.cs:1239-1328`) so users can SELECT
  * over what the optimizer did. Catalyst has no memo, but its analog is
  * the QueryExecution phase chain: this surface renders each phase's
  * plan tree as ROWS (phase, preorder position, depth, node name) so
  * plan shape is itself queryable/joinable — e.g. count exchanges per
  * phase, diff analyzed vs optimized node counts, assert no cartesian.
  *
  * Driver-sized by construction: a plan tree is O(100) nodes of
  * metadata, never data — the one place collect-to-driver is the right
  * shape.
  */
object PlanIntrospection {

  /** (phase, ord, depth, node) rows for the three deterministic plan
    * phases of `df`: "analyzed", "optimized", "physical" (pre-AQE; the
    * adaptive final plan is only defined post-execution).
    */
  def nodes(spark: SparkSession, df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    def rows[T <: TreeNode[T]](phase: String, root: T) =
      operators(root).zipWithIndex.map { case ((depth, n), ord) =>
        (phase, ord, depth, n.nodeName)
      }
    import spark.implicits._
    (rows("analyzed", qe.analyzed) ++ rows("optimized", qe.optimizedPlan) ++
      rows("physical", qe.sparkPlan)).toDF("phase", "ord", "depth", "node")
  }

  /** Required-vs-provided plan properties as rows — the Catalyst analog
    * of the reference's `sys_memo_property` table (required/provided
    * ordering+distribution per memo group, `optimizer.cs:1239-1328`,
    * `Catalog.cs:312-317`), completing the introspection triptych next
    * to [[nodes]] (what was chosen) and [[ruleTrace]] (what rewrote it).
    *
    * One row per (operator, child slot) across two phases:
    *
    *  - `planned`: the physical plan BEFORE enforcement — `satisfied =
    *    false` rows are exactly the places EnsureRequirements must
    *    insert an exchange/sort (the reference's enforcer inserts its
    *    Redistribute/Order nodes from the same required-vs-provided
    *    comparison).
    *  - `final`: the executed adaptive plan — every requirement shows
    *    how it was met (by an exchange, a bucketed scan, AQE reuse, …).
    *
    * Satisfaction verdicts are Spark's own (`Partitioning.satisfies` /
    * `SortOrder.orderingSatisfies`) — the exact tests EnsureRequirements
    * runs, re-exposed as data. Expression ids (`#123`) are stripped so
    * the rows are stable across sessions. Requires execution (for the
    * final phase); plan-tree-sized, driver-safe by construction.
    */
  def properties(spark: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.SortOrder
    def norm(s: String): String =
      s.replaceAll("#\\d+[L]?", "").replaceAll("@[0-9a-f]+", "")
    def rows(phase: String, root: SparkPlan) =
      operators(root).zipWithIndex.flatMap { case ((depth, n), ord) =>
        n.children.zipWithIndex.map { case (c, i) =>
          val reqD = n.requiredChildDistribution(i)
          val reqO = n.requiredChildOrdering(i)
          (phase, ord, depth, n.nodeName, i,
            norm(reqD.toString), norm(c.outputPartitioning.toString),
            c.outputPartitioning.satisfies(reqD),
            norm(reqO.map(_.sql).mkString(", ")),
            norm(c.outputOrdering.map(_.sql).mkString(", ")),
            SortOrder.orderingSatisfies(c.outputOrdering, reqO))
        }
      }
    val planned = rows("planned", df.queryExecution.sparkPlan)
    // force execution so the adaptive plan is final
    df.queryExecution.toRdd.foreachPartition(_ => ())
    val fin = rows("final", df.queryExecution.executedPlan)
    import spark.implicits._
    (planned ++ fin).toDF("phase", "ord", "depth", "node", "child",
      "required_dist", "provided_dist", "dist_satisfied",
      "required_order", "provided_order", "order_satisfied")
  }

  /** EXPLAIN ANALYZE parity (reference `PhysicProfiling` row/loop
    * counters on every physical node, `PhysicalExec.cs:332-408`, surfaced
    * by `EXPLAIN ANALYZE`, `Plan.cs:125-141`): EXECUTE `df`, then render
    * the final adaptive physical plan with each operator's post-execution
    * SQLMetrics row count as rows (phase="executed", ord, depth, node,
    * rows). `rows` is NULL for operators that carry no numOutputRows
    * metric (e.g. exchanges report data size instead).
    *
    * Execution discards rows executor-side (foreachPartition over the
    * dataset's own RDD — the same QueryExecution whose metrics are read,
    * nothing shipped to the driver), so profiling a 100 TB query costs
    * one run of the query, never a collect.
    */
  def executed(spark: SparkSession, df: DataFrame): DataFrame = {
    df.queryExecution.toRdd.foreachPartition(_ => ())
    import spark.implicits._
    estimateVsActual(df).map { p =>
      // clamp: a size-derived estimate can exceed Long range in theory
      (p.ord, p.depth, p.node,
        p.estRows.map(b => b.min(BigInt(Long.MaxValue)).longValue),
        p.actualRows)
    }.toDF("ord", "depth", "node", "est_rows", "rows")
      .selectExpr("'executed' AS phase", "ord", "depth", "node",
        "est_rows", "rows")
  }

  /** Post-execution per-operator profile of an ALREADY-executed df:
    * preorder (ord, depth, node, numOutputRows). Reading metrics before
    * any action ran yields zeros — callers own the execution (see
    * [[executed]] for the run-and-profile wrapper).
    */
  def executedProfile(df: DataFrame): Seq[(Int, Int, String, Option[Long])] =
    estimateVsActual(df).map(p => (p.ord, p.depth, p.node, p.actualRows))

  /** The optimizer's DERIVATION as rows — the closest Catalyst analog to
    * the reference's memo-exploration tables (`sys_memo_expr` renders
    * every logically-equivalent alternative the memo explored,
    * `optimizer.cs:1239-1328`). Catalyst is a rewrite system, not a memo:
    * what it "explored" is the rule sequence, so this surface renders the
    * per-rule planning summary — invocations, EFFECTIVE invocations (the
    * rule actually rewrote the plan), and planning time — for every rule
    * that fired effectively at least once while analyzing/optimizing/
    * planning `df`. SELECTing it answers the questions the reference's
    * memo tables answer ("did join reorder engage? what did resolution
    * cost?") in Catalyst's vocabulary.
    *
    * Rule NAMES and effective-counts are deterministic for a fixed query
    * and conf; `time_ns` is wall-clock and is exposed for profiling, not
    * comparison.
    */
  def ruleTrace(spark: SparkSession, df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    qe.executedPlan // force analyze → optimize → plan under the tracker
    import spark.implicits._
    qe.tracker.rules.toSeq
      .map { case (rule, s) =>
        (rule.substring(rule.lastIndexOf('.') + 1),
          s.numInvocations, s.numEffectiveInvocations, s.totalTimeNs)
      }
      .filter(_._3 > 0)
      .sortBy { case (name, _, eff, _) => (-eff, name) }
      .toDF("rule", "invocations", "effective", "time_ns")
  }

  /** One executed operator's planned-vs-actual cardinality. `estExact`
    * distinguishes a real CBO rowCount (propagated from injected /
    * ANALYZE stats) from the size-derived fallback — the fallback
    * compounds multiplicatively through joins, so its error factor
    * measures "Spark had no row estimate here", not a CBO miss.
    */
  final case class OpProfile(ord: Int, depth: Int, node: String,
      estRows: Option[BigInt], estExact: Boolean, actualRows: Option[Long])

  /** The engine estimator's cardinality for one node of a STATIC
    * (pre-execution) physical plan — what [[estimateVsActual]] pairs
    * with actuals post-execution, reusable by plan-only harnesses
    * (Tpch1Plan grades root estimates on data-free catalogs). Walks
    * preorder from `root`, skipping pure plumbing wrappers, and returns
    * the first node's estimate.
    */
  def plannedRootEstimate(spark: SparkSession,
                          root: SparkPlan): Option[BigInt] = {
    val wrappers = Seq("WholeStageCodegen", "InputAdapter", "ColumnarToRow",
      "AdaptiveSparkPlan", "ResultQueryStage", "Exchange", "AQEShuffleRead",
      "ShuffleQueryStage", "BroadcastQueryStage", "BroadcastExchange")
    // Every wrapper is unary, so the first non-wrapper node of the walk
    // is the one reached by descending through wrappers alone.
    operators(root).map(_._2)
      .find(n => !wrappers.exists(n.nodeName.startsWith))
      .flatMap(n => estimatedRows(spark, n) match {
        // EXACT estimates only (stats-fed CBO or the graft corrections)
        // — the size-derived quotient means "no row estimate here", and
        // grading it as the root estimate would compare noise.
        case (est, true) => est
        case _ => None
      })
  }

  /** Estimated rows the optimizer planned a physical operator from —
    * the CBO's rowCount when the estimation chain produced one, else the
    * size-based fallback sizeInBytes / sizePerRow, which is the same
    * quantity Spark's own broadcast-vs-shuffle decisions reduce to. None
    * for physical-only nodes with no logical counterpart (e.g. exchanges
    * inserted by EnsureRequirements, AQE readers).
    *
    * The reference renders per-member cost ESTIMATES in its memo system
    * tables (`/root/reference/qpmodel/optimizer.cs:1239-1328`) but never
    * places them next to execution feedback; at 100 TB the estimate
    * ERROR is what silently picks a catastrophic join strategy, so the
    * pairing (est, actual) is the auditable artifact — see PlanAudit's
    * worst-miss column.
    */
  private def estimatedRows(spark: SparkSession,
                            n: SparkPlan): (Option[BigInt], Boolean) = {
    // Extended statistics refine what Spark's estimation chain gets
    // wrong (see graft.catalog.ExtendedStats): equi-joins are priced by
    // per-edge containment composed recursively through join chains
    // (column-group ndv for correlated composite keys, catalog ndv per
    // single key), and LIKE-prefix filters by the registered string
    // equal-depth histogram. Everything else reports Spark's own CBO
    // rowCount, falling back to the size-derived quotient.
    graft.catalog.ExtendedStats.containmentEstimate(spark, n)
      .orElse(graft.catalog.ExtendedStats.groupedChainEstimate(spark, n))
      .orElse(likePrefixEstimate(n)) match {
      case Some(corrected) => (Some(corrected), true)
      case None =>
        n.logicalLink.map { l =>
          val st = l.stats
          st.rowCount match {
            case Some(rc) => (Some(rc), true)
            case None =>
              val per = org.apache.spark.sql.catalyst.plans.logical
                .statsEstimation.EstimationUtils.getSizePerRow(l.output)
              (if (per > 0) Some(st.sizeInBytes / per) else None, false)
          }
        }.getOrElse((None, false))
    }
  }

  /** Catalyst's own conjunct splitter (protected in PredicateHelper,
    * re-exposed through a private holder) — the same splitter
    * ColumnGroupCertifiedBroadcast uses, not a re-implementation.
    */
  private object Conjuncts
      extends org.apache.spark.sql.catalyst.expressions.PredicateHelper {
    def split(e: org.apache.spark.sql.catalyst.expressions.Expression)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      splitConjunctivePredicates(e)
  }

  /** Corrected estimate for a Filter whose condition carries top-level
    * `col LIKE 'prefix%'` conjuncts over columns with a registered
    * string histogram. Spark's FilterEstimation has no handler for
    * StartsWith (selectivity 1.0 — its histograms cover numeric types
    * only), so the correction multiplies Spark's own estimate for the
    * REMAINING conjuncts by the histogram range selectivity of
    * [prefix, succ(prefix)) per LIKE. Only positive top-level
    * conjuncts are priced — a StartsWith under OR/NOT keeps Spark's
    * estimate rather than guessing a polarity.
    */
  private def likePrefixEstimate(n: SparkPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, IsNotNull, Literal, StartsWith}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.types.StringType
    n.logicalLink.collect {
      case f @ LFilter(cond, child) =>
        val conjs = Conjuncts.split(cond)
        val prefixes = conjs.collect {
          case StartsWith(a: AttributeReference, Literal(p, StringType))
              if p != null => (a, p.toString)
        }
        if (prefixes.isEmpty) None
        else {
          val sels = prefixes.map { case (a, p) =>
            child.collectFirst {
              case r: LogicalRelation
                  if r.catalogTable.isDefined &&
                    r.output.exists(_.exprId == a.exprId) =>
                r.catalogTable.get
            }.flatMap { t =>
              // Spark's base estimate (the rowCount below) has already
              // priced an explicit/inferred isnotnull(a) conjunct when
              // one is present — scaling by the histogram's null
              // fraction again would double-count it.
              val nullsExcluded = conjs.exists {
                case IsNotNull(ar: AttributeReference) =>
                  ar.exprId == a.exprId
                case _ => false
              }
              graft.catalog.ExtendedStats.prefixSelectivity(
                t.properties, a.name, p,
                t.stats.flatMap(_.rowCount).getOrElse(BigInt(0)),
                nullsAlreadyExcluded = nullsExcluded)
            }
          }
          for {
            _ <- Option(()).filter(_ => sels.forall(_.isDefined))
            base <- f.stats.rowCount
          } yield {
            val est = sels.flatten.foldLeft(BigDecimal(base))(_ * _)
            est.setScale(0, BigDecimal.RoundingMode.HALF_UP)
              .toBigInt.max(1)
          }
        }
    }.flatten
  }

  /** Post-execution per-operator [[OpProfile]] rows — the optimizer's
    * planned cardinality NEXT TO the SQLMetrics actual, per operator of
    * the final adaptive plan. Callers own execution, same contract as
    * [[executedProfile]].
    */
  def estimateVsActual(df: DataFrame): Seq[OpProfile] = {
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    operators(finalPlan).zipWithIndex.map { case ((depth, n), ord) =>
      val (est, exact) = estimatedRows(df.sparkSession, n)
      OpProfile(ord, depth, n.nodeName, est, exact,
        n.metrics.get("numOutputRows").map(_.value))
    }
  }

  /** Preorder (depth, node) walk of a plan tree that descends
    * `AdaptiveSparkPlanExec` into its current plan (the final one once
    * executed) and `QueryStageExec` into the stage's plan — both hide
    * their subtree behind a leaf. Logical trees walk their children.
    * Subqueries and cached plans are not children and are not visited;
    * [[shape]] adds them.
    */
  def operators[T <: TreeNode[T]](root: T): Seq[(Int, T)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Int, T)]()
    def go(n: T, depth: Int): Unit = {
      buf += ((depth, n))
      val kids: Seq[TreeNode[_]] = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => n.children
      }
      kids.foreach(k => go(k.asInstanceOf[T], depth + 1))
    }
    go(root, 0)
    buf.toSeq
  }

  /** Operator counts of a physical plan, read from node classes. */
  final case class Shape(bhj: Int, smj: Int, shj: Int, bnlj: Int,
      cartesian: Int, exchanges: Int, generates: Int, sorts: Int,
      aggregates: Int, skewJoins: Int, pushedScans: Int,
      codegenStages: Int)

  /** The [[Shape]] of every operator the printed plan shows: the
    * [[operators]] walk plus, per visited node, its subqueries and a
    * cached-relation scan's cached plan, walked the same way.
    * `pushedScans` counts file scans with pushed filters,
    * `codegenStages` distinct whole-stage-codegen ids and `skewJoins`
    * shuffled joins AQE split for skew.
    */
  def shape(root: SparkPlan): Shape = {
    def shown(p: SparkPlan): Seq[SparkPlan] = operators(p).flatMap {
      case (_, n) =>
        val cached = n match {
          case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
          case _ => Nil
        }
        n +: (n.subqueries ++ cached).flatMap(shown)
    }
    val ns = shown(root)
    def count(c: Class[_]): Int = ns.count(c.isInstance)
    Shape(
      bhj = count(classOf[BroadcastHashJoinExec]),
      smj = count(classOf[SortMergeJoinExec]),
      shj = count(classOf[ShuffledHashJoinExec]),
      bnlj = count(classOf[BroadcastNestedLoopJoinExec]),
      cartesian = count(classOf[CartesianProductExec]),
      exchanges = count(classOf[ShuffleExchangeExec]),
      generates = count(classOf[GenerateExec]),
      sorts = count(classOf[SortExec]),
      aggregates = count(classOf[HashAggregateExec]) +
        count(classOf[SortAggregateExec]) +
        count(classOf[ObjectHashAggregateExec]),
      skewJoins = ns.collect { case j: ShuffledJoin if j.isSkewJoin => j }.size,
      pushedScans = ns.collect {
        case f: FileSourceScanExec
            if f.metadata.get("PushedFilters").exists(_ != "[]") => f
      }.size,
      codegenStages = ns.collect {
        case w: WholeStageCodegenExec => w.codegenStageId
      }.distinct.size)
  }
}

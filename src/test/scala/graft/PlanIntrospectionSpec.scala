package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan introspection rows (reference sys_memo_expr analog). */
class PlanIntrospectionSpec extends AnyFunSuite {
  import TestSpark._

  test("plan phases render as queryable rows") {
    graft.catalog.Tables.registerAll(spark, sfDir)
    val probe = spark.sql(
      """SELECT n_name, COUNT(*) AS c FROM nation
        |JOIN region ON n_regionkey = r_regionkey GROUP BY n_name""".stripMargin)
    val nodes = graft.api.PlanIntrospection.nodes(spark, probe)
    nodes.createOrReplaceTempView("sys_plan")
    // All three phases present, roots at depth 0, preorder ord unique.
    val phases = spark.sql("SELECT DISTINCT phase FROM sys_plan")
      .collect().map(_.getString(0)).toSet
    assert(phases == Set("analyzed", "optimized", "physical"))
    assert(spark.sql(
      "SELECT COUNT(*) FROM sys_plan WHERE depth = 0").head().getLong(0) == 3)
    assert(spark.sql(
      """SELECT COUNT(*) FROM (SELECT phase, ord FROM sys_plan
        |GROUP BY phase, ord HAVING COUNT(*) > 1)""".stripMargin)
      .head().getLong(0) == 0)
    // The introspection is USEFUL as SQL: the physical tree of a
    // grouped join must carry an aggregate, and optimization must not
    // grow the plan (it prunes/collapses).
    assert(spark.sql(
      """SELECT COUNT(*) FROM sys_plan
        |WHERE phase = 'physical' AND node LIKE '%Aggregate%'""".stripMargin)
      .head().getLong(0) >= 1)
    // ... and the join is visible in every phase, broadcast-planned in
    // the physical one (region is tiny) — the assertions PlanAudit makes
    // by string-matching, here as plain SQL over rows.
    assert(spark.sql(
      """SELECT COUNT(DISTINCT phase) FROM sys_plan
        |WHERE node LIKE '%Join%'""".stripMargin).head().getLong(0) == 3)
    assert(spark.sql(
      """SELECT COUNT(*) FROM sys_plan
        |WHERE phase = 'physical' AND node = 'BroadcastHashJoin'"""
        .stripMargin).head().getLong(0) == 1)
    // Two-phase aggregation (partial + final) is visible as rows too.
    assert(spark.sql(
      """SELECT COUNT(*) FROM sys_plan
        |WHERE phase = 'physical' AND node = 'HashAggregate'"""
        .stripMargin).head().getLong(0) == 2)
  }

  test("sys_plan_properties: a key-grouped aggregate's shuffle shows as " +
    "required-vs-provided rows, unsatisfied planned, satisfied final") {
    graft.catalog.Tables.registerAll(spark, sfDir)
    // supplier is small but the group-by key forces a hash distribution
    // requirement; disable broadcast so the aggregate's requirement is
    // met by a real exchange, not folded away.
    val probe = spark.sql(
      """SELECT s_nationkey, COUNT(*) AS c
        |FROM supplier GROUP BY s_nationkey""".stripMargin)
    val props = graft.api.PlanIntrospection.properties(spark, probe)
    props.createOrReplaceTempView("sys_props")
    // planned phase: the final aggregate REQUIRES a clustered
    // distribution its child scan does not provide — the exact spot
    // EnsureRequirements inserts the exchange
    //  (reference sys_memo_property: required vs provided per group).
    val unsat = spark.sql(
      """SELECT COUNT(*) FROM sys_props
        |WHERE phase = 'planned' AND NOT dist_satisfied
        |  AND required_dist LIKE '%ClusteredDistribution%'"""
        .stripMargin).head().getLong(0)
    assert(unsat >= 1, "expected an unsatisfied clustered requirement")
    // final phase: every requirement is satisfied (enforcement done) and
    // an exchange provides hashpartitioning somewhere below the agg.
    assert(spark.sql(
      """SELECT COUNT(*) FROM sys_props
        |WHERE phase = 'final' AND NOT dist_satisfied""".stripMargin)
      .head().getLong(0) == 0,
      "final plan must satisfy every distribution requirement")
    assert(spark.sql(
      """SELECT COUNT(*) FROM sys_props
        |WHERE phase = 'final' AND provided_dist LIKE '%hashpartitioning%'"""
        .stripMargin).head().getLong(0) >= 1)
    // ordering side: a global sort expresses its requirement as an
    // OrderedDistribution (planned: unsatisfied over the raw scan;
    // final: met by a range-partitioning exchange)
    val sorted = spark.sql(
      "SELECT * FROM supplier ORDER BY s_acctbal DESC")
    val p2 = graft.api.PlanIntrospection.properties(spark, sorted)
    import org.apache.spark.sql.functions.col
    assert(p2.filter(col("phase") === "planned" &&
      col("required_dist").contains("OrderedDistribution") &&
      !col("dist_satisfied")).count() >= 1,
      "global sort must demand an OrderedDistribution its scan lacks")
    assert(p2.filter(col("phase") === "final" &&
      col("provided_dist").contains("rangepartitioning")).count() >= 1)
    assert(p2.filter(col("phase") === "final" &&
      !col("order_satisfied")).count() == 0)
  }

  test("introspection queries stay out of the oracle-scored corpus") {
    // The gate corpus must contain only oracle-paired queries (an
    // oracle-less query permanently costs the correctness file an err
    // row); plan introspection is runnable but lives in its own list.
    assert(Queries.introspection.map(_.name).contains("sys_plan_nodes"))
    assert(Queries.introspection.forall(_.oracle.isEmpty),
      "introspection list is for oracle-less queries only")
    assert(Queries.all.forall(_.oracle.isDefined),
      "every scored query needs a DuckDB oracle")
    assert(Queries.all.map(_.name).toSet
      .intersect(Queries.introspection.map(_.name).toSet).isEmpty)
  }

  test("executed phase carries per-operator row counts (EXPLAIN ANALYZE parity)") {
    // Known-cardinality probe: row counts are data-determined, hence
    // exactly assertable (unlike node names, which are engine-specific).
    val probe = spark.range(100).toDF("id").filter("id < 10")
      .selectExpr("id % 2 AS k").groupBy("k").count()
    val ex = graft.api.PlanIntrospection.executed(spark, probe)
    ex.createOrReplaceTempView("sys_executed")
    assert(spark.sql("SELECT DISTINCT phase FROM sys_executed")
      .collect().map(_.getString(0)).toSeq == Seq("executed"))
    def rowsOf(like: String): Seq[Long] = spark.sql(
      s"""SELECT rows FROM sys_executed
         |WHERE node LIKE '$like' AND rows IS NOT NULL""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    // Range emits all 100; the filter passes exactly 10; the FINAL
    // aggregate emits the 2 parity groups (the partial also emits 2 per
    // this probe's single-partition-worth of distinct keys — assert via
    // the set of aggregate outputs containing 2).
    assert(rowsOf("Range%") == Seq(100L))
    assert(rowsOf("%Filter%").contains(10L))
    assert(rowsOf("HashAggregate%").contains(2L))
    // The profile covers operators inside materialized query stages —
    // the final agg runs post-shuffle, so at least one stage must have
    // been descended into for the assertions above to have seen it.
    assert(spark.sql(
      "SELECT COUNT(*) FROM sys_executed WHERE node LIKE '%QueryStage%'")
      .head().getLong(0) >= 1)
  }

  test("executed profile pairs optimizer estimates with actual row counts") {
    // The estimate-vs-actual audit: every executed plan must carry at
    // least one operator with BOTH a planned cardinality (CBO rowCount
    // or the size-derived fallback) and a SQLMetrics actual — that
    // pairing is what makes misestimates regression-testable. Range has
    // exact stats, so its estimate must be exact: est=100, rows=100.
    val probe = spark.range(100).toDF("id")
      .selectExpr("id % 7 AS k").groupBy("k").count()
    probe.queryExecution.toRdd.foreachPartition(_ => ())
    val prof = graft.api.PlanIntrospection.estimateVsActual(probe)
    val both = prof.collect {
      case p if p.estRows.isDefined && p.actualRows.isDefined =>
        (p.node, p.estRows.get, p.actualRows.get)
    }
    assert(both.nonEmpty, prof.mkString("\n"))
    val range = both.filter(_._1.startsWith("Range"))
    assert(range.nonEmpty && range.forall { case (_, est, act) =>
      est == BigInt(100) && act == 100L }, both.mkString("\n"))

    // The DataFrame surface exposes the same pairing as est_rows.
    val ex = graft.api.PlanIntrospection.executed(spark, probe)
    assert(ex.columns.toSeq ==
      Seq("phase", "ord", "depth", "node", "est_rows", "rows"))
    assert(ex.filter("est_rows IS NOT NULL AND rows IS NOT NULL").count() > 0)
  }

  test("golden rows count operators from the plan tree, subqueries and " +
    "cached plans included") {
    import org.apache.spark.sql.functions.{col, collect_set, sum}
    def row(df: org.apache.spark.sql.DataFrame): String =
      PlanGolden.structuralRow("q", df)
    // ObjectHashAggregate is one aggregate operator per phase, not two.
    val collected = spark.range(100).selectExpr("id % 3 AS k", "id AS v")
      .groupBy("k").agg(collect_set("v"))
    assert(row(collected) ==
      "q|joins=-|exchanges=1|cartesian=no|generate=0|sorts=0|aggs=2")
    // A scalar subquery's plan hangs off the filter, not its children.
    val scalar = spark.range(10).toDF("id")
      .where("id > (SELECT max(id) - 5 FROM range(100))")
    assert(row(scalar) ==
      "q|joins=-|exchanges=1|cartesian=no|generate=0|sorts=0|aggs=2")
    // A materialized cache prints its final AQE plan, nested "Initial
    // Plan" marker included, before the join's other side; that side's
    // operators count as well.
    val cached = spark.range(100).selectExpr("id % 5 AS k")
      .groupBy("k").count().cache()
    try {
      cached.count()
      val other = spark.range(50).selectExpr("id % 5 AS k2", "id AS v")
        .groupBy("k2").agg(sum("v").as("s"))
      assert(row(cached.join(other, col("k") === col("k2"))) ==
        "q|joins=1bhj|exchanges=2|cartesian=no|generate=0|sorts=0|aggs=4")
    } finally cached.unpersist()
  }

  test("rule trace renders the optimizer derivation as queryable rows") {
    graft.catalog.Tables.registerAll(spark, sfDir)
    val probe = spark.sql(
      """SELECT n_name, COUNT(*) AS c FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey < 3 AND c_acctbal > 0
        |GROUP BY n_name""".stripMargin)
    val trace = graft.api.PlanIntrospection.ruleTrace(spark, probe)
    trace.createOrReplaceTempView("sys_rules")
    assert(trace.columns.toSeq ==
      Seq("rule", "invocations", "effective", "time_ns"))
    // Only effective rules are rendered, and counts are consistent.
    assert(spark.sql(
      """SELECT COUNT(*) FROM sys_rules
        |WHERE effective < 1 OR invocations < effective""".stripMargin)
      .head().getLong(0) == 0)
    val rules = spark.sql("SELECT rule FROM sys_rules")
      .collect().map(_.getString(0)).toSet
    assert(rules.nonEmpty)
    // The signature optimizer work for a filtered join must have fired:
    // predicate pushdown (the WHERE reaches both scans) and resolution.
    assert(rules.exists(r => r.contains("PushDownPredicates") ||
      r.contains("PushPredicateThroughJoin")),
      s"no pushdown rule in trace: $rules")
    assert(rules.exists(_.contains("ResolveReferences")), rules)
    // Deterministic: a second planning of the same query yields the same
    // effective rule set (times differ; names and counts must not).
    val again = graft.api.PlanIntrospection.ruleTrace(spark,
      spark.sql(probe.queryExecution.logical.origin.sqlText.getOrElse(
        """SELECT n_name, COUNT(*) AS c FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE n_regionkey < 3 AND c_acctbal > 0
          |GROUP BY n_name""".stripMargin)))
      .select("rule").collect().map(_.getString(0)).toSet
    assert(again == rules)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The engine-surface contract of [[graft.plans.CorrelationRepair]]:
  * reference-legal multi-level correlation runs at [[SqlRunner.exec]]
  * under the opt-in conf, clean SQL is NEVER rewritten, and with the
  * conf off the analyzer error surfaces untouched.
  */
class CorrelationRepairSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val ConfKey = graft.plans.CorrelationRepair.ConfKey

  private val twoLevel =
    "select a1 from a where a.a1 = (select b1 from b bo where b2 = a2 " +
      "and b1 = (select b1 from b where b3 = a3 and b3>1) and b2<3)"

  override def beforeAll(): Unit = {
    spark = GraftSession.local(cores = 4)
    Seq("a" -> "a", "b" -> "b").foreach { case (v, p) =>
      spark.sql(
        s"""CREATE OR REPLACE TEMP VIEW $v AS
           |SELECT id AS ${p}1, id+1 AS ${p}2, id+2 AS ${p}3, id+3 AS ${p}4
           |FROM range(3)""".stripMargin)
    }
  }

  override def afterAll(): Unit =
    spark.conf.unset(ConfKey)

  test("opt-in off (the default): the analyzer rejection surfaces, " +
    "nothing is rewritten") {
    spark.conf.unset(ConfKey)
    val e = intercept[Exception](SqlRunner.exec(spark, twoLevel))
    assert(Option(e.getMessage).exists(_.contains("UNRESOLVED_COLUMN")),
      s"expected the raw analyzer error, got: ${e.getMessage}")
  }

  test("opt-in on: the reference-verbatim two-level statement runs at " +
    "the engine surface (UnitTest.cs:1046 expects 0;1)") {
    spark.conf.set(ConfKey, "true")
    try {
      val rows = SqlRunner.exec(spark, twoLevel)
        .collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(0L, 1L))
    } finally spark.conf.unset(ConfKey)
  }

  test("clean SQL is never rewritten: statements that analyze resolve " +
    "to the identical plan with the conf on") {
    // same sub-query nesting flavor, but legal one-level correlation
    val clean =
      "select a1 from a where a.a1 = (select min(b1) from b where b2 = a2)"
    spark.conf.unset(ConfKey)
    val off = SqlRunner.exec(spark, clean)
      .queryExecution.analyzed.canonicalized
    spark.conf.set(ConfKey, "true")
    try {
      val on = SqlRunner.exec(spark, clean)
        .queryExecution.analyzed.canonicalized
      assert(on == off, "repair surface rewrote a clean statement")
    } finally spark.conf.unset(ConfKey)
  }

  test("a statement whose failure is NOT a correlation shape keeps its " +
    "original error under the conf") {
    spark.conf.set(ConfKey, "true")
    try {
      val e = intercept[Exception](
        SqlRunner.exec(spark, "select no_such_col from a"))
      assert(Option(e.getMessage).exists(_.contains("no_such_col")))
    } finally spark.conf.unset(ConfKey)
  }

  // ------------------------------------------------------------- r15:
  // catalog-resolved column classification — the repair works on REAL
  // schemas, declines on genuinely ambiguous ones, and the flatten
  // enforces scalar uniqueness at runtime.

  private def withRepair[T](f: => T): T = {
    spark.conf.set(ConfKey, "true")
    try f finally spark.conf.unset(ConfKey)
  }

  test("r15: the two-level flatten heals on TPC-H-named tables — column " +
    "ownership resolved from the catalog, not a naming convention") {
    spark.sql("""CREATE OR REPLACE TEMP VIEW nation AS
      |SELECT id AS n_nationkey, concat('N', id) AS n_name,
      |       id AS n_regionkey FROM range(4)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW region AS
      |SELECT id AS r_regionkey, concat('R', id) AS r_name
      |FROM range(4)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW customer AS
      |SELECT id + 1 AS c_custkey, id AS c_nationkey FROM range(4)
      |""".stripMargin)
    val sql = "select n_nationkey from nation where n_nationkey >= (" +
      "select max(c_nationkey) from customer " +
      "where c_custkey <= n_nationkey + 1 and c_nationkey = " +
      "(select r_regionkey from region where r_regionkey = n_regionkey " +
      "and r_regionkey >= 0))"
    // without the conf: the raw two-level analyzer rejection
    spark.conf.unset(ConfKey)
    val raw = intercept[Exception](SqlRunner.exec(spark, sql))
    assert(Option(raw.getMessage).exists(_.contains("UNRESOLVED_COLUMN")))
    // with it: customer k+1 lives in nation k, region k exists, so the
    // middle max equals k for every nation — all 4 rows survive
    val rows = withRepair(SqlRunner.exec(spark, sql))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(0L, 1L, 2L, 3L), s"got ${rows.toSeq}")
  }

  test("r15: ambiguous bare columns (two in-scope tables share the " +
    "name) decline the rewrite — the original error stands") {
    spark.sql("CREATE OR REPLACE TEMP VIEW s1 AS " +
      "SELECT id AS k, id AS a FROM range(3)")
    spark.sql("CREATE OR REPLACE TEMP VIEW s2 AS " +
      "SELECT id AS k, id AS b FROM range(3)")
    // `k` is owned by BOTH s1 and s2: neither the flatten's key-equality
    // classification nor the hoist's correlated-conjunct guard may
    // claim it, so the statement keeps its analyzer error even with the
    // conf on.
    val sql = "select a from s1 where a = (select b from s2 so where " +
      "b = (select b from s2 where k = a and b >= 0) and b < 100)"
    val e = withRepair(intercept[Exception](SqlRunner.exec(spark, sql)))
    assert(Option(e.getMessage).exists(_.contains("UNRESOLVED_COLUMN")),
      s"expected the raw analyzer error, got: ${e.getMessage}")
  }

  test("r15: the flatten preserves scalar semantics — an inner key " +
    "matching >1 row raises the scalar subquery error, never silent " +
    "duplication (the r14 advisory)") {
    spark.sql("CREATE OR REPLACE TEMP VIEW t_out AS " +
      "SELECT id AS o1 FROM range(2)")
    spark.sql("CREATE OR REPLACE TEMP VIEW t_mid AS " +
      "SELECT id AS m1, 5 + id AS m2 FROM range(1)")
    // two t_dup rows share d1 = 0 via `id div 2` — NOT `id * 0`, which
    // constant-folds the key to a literal, erases the equi correlation
    // condition, and steers the LeftSingle join into a nested-loop
    // build-side edge unrelated to what this test pins
    spark.sql("CREATE OR REPLACE TEMP VIEW t_dup AS " +
      "SELECT id div 2 AS d1, 5 + 2 * id AS d2 FROM range(2)")
    val sql = "select o1 from t_out where o1 = (select m1 from t_mid " +
      "where m2 = (select d2 from t_dup where d1 = o1 and d2 > -100) " +
      "and m1 >= 0)"
    val e = withRepair(intercept[Exception](
      SqlRunner.exec(spark, sql).collect()))
    assert(Option(e.getMessage).exists(
      _.contains("scalar subquery returned more than one row")),
      s"expected the scalar >1-row error, got: ${e.getMessage}")
    // control: with unique inner keys the same shape returns the row
    spark.sql("CREATE OR REPLACE TEMP VIEW t_dup AS " +
      "SELECT id AS d1, 5 + id AS d2 FROM range(2)")
    val ok = withRepair(SqlRunner.exec(spark, sql).collect())
    assert(ok.map(_.getLong(0)).toSeq == Seq(0L))
    // and the mirror case (the r15 review's CONFIRMED finding): a
    // duplicate-key group that NO binding matches must not raise —
    // the error guard must re-state the key equalities, because the
    // CASE can evaluate against groups the join conjuncts later
    // reject. Bindings 2,3 match zero t_dup rows → empty, no error.
    spark.sql("CREATE OR REPLACE TEMP VIEW t_dup AS " +
      "SELECT id div 2 AS d1, 5 + 2 * id AS d2 FROM range(2)")
    spark.sql("CREATE OR REPLACE TEMP VIEW t_out AS " +
      "SELECT id + 2 AS o1 FROM range(2)")
    val unmatched = withRepair(SqlRunner.exec(spark, sql).collect())
    assert(unmatched.isEmpty,
      s"expected empty (no binding matches), got ${unmatched.toSeq}")
  }

  test("r15: structural scanners treat quoted text as content — a " +
    "literal containing ' and '/' or ' neither mis-splits conjuncts " +
    "nor mis-routes the repair") {
    spark.sql("""CREATE OR REPLACE TEMP VIEW nation AS
      |SELECT id AS n_nationkey, concat('N', id) AS n_name,
      |       id AS n_regionkey FROM range(4)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW region AS
      |SELECT id AS r_regionkey, concat('R', id) AS r_name
      |FROM range(4)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW customer AS
      |SELECT id + 1 AS c_custkey, id AS c_nationkey FROM range(4)
      |""".stripMargin)
    // the inner-local literals contain ' and ' and ' or ', an
    // unbalanced '(' and a backslash-escaped quote (Spark's default
    // literal syntax) — a text scanner splitting conjuncts at either
    // broke the literal apart and the repair silently declined
    Seq("'ASIA and (EUROPE or AFRICA'", "'it\\'s and (x'").foreach { lit =>
      val sql = "select n_nationkey from nation where n_nationkey >= (" +
        "select max(c_nationkey) from customer " +
        "where c_custkey <= n_nationkey + 1 and c_nationkey = " +
        "(select r_regionkey from region where r_regionkey = n_regionkey " +
        s"and r_name <> $lit))"
      val rows = withRepair(SqlRunner.exec(spark, sql))
        .collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(0L, 1L, 2L, 3L), s"$lit: got ${rows.toSeq}")
    }
  }

  test("r15 review: an inner-table-QUALIFIED local filter stays inside " +
    "the derived table (it carries no bare tokens, so a bare-only test " +
    "read it as FREE and moved it out)") {
    spark.sql("""CREATE OR REPLACE TEMP VIEW nation AS
      |SELECT id AS n_nationkey, id AS n_regionkey FROM range(4)
      |""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW customer AS
      |SELECT id AS c_custkey, id % 4 AS c_nationkey, id div 4 AS c_flag
      |FROM range(8)""".stripMargin)
    // middle and inner BOTH scan customer unaliased; the inner's
    // `customer.c_flag = 0` must keep filtering the INNER aggregation
    // (per nation k the flag-0 customer is exactly {k}); moved to the
    // middle it instead gates middle rows while the derived table
    // aggregates over BOTH flag groups (count 2 -> spurious scalar
    // error / wrong max).
    val sql = "select n_nationkey from nation where n_nationkey >= (" +
      "select max(c_custkey) from customer " +
      "where c_custkey <= n_nationkey + 10 and c_custkey = " +
      "(select c_custkey from customer " +
      "where customer.c_flag = 0 and c_nationkey = n_regionkey))"
    val rows = withRepair(SqlRunner.exec(spark, sql))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(0L, 1L, 2L, 3L), s"got ${rows.toSeq}")
  }

  test("r15 review: a middle block ending in GROUP BY keeps the " +
    "appended join conjuncts in its WHERE, not inside the trailing " +
    "clause") {
    // The middle Aggregate's grouping expressions must come out
    // unchanged and the moved key equality must land in the Filter
    // below it — appended after the GROUP BY it would become part of
    // the group key expression (`group by bo.b4 div 100 and (...)`).
    import graft.plans.CorrelationRepair
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, ScalarSubquery}
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
    val sql = "select a1 from a where a1 = (select max(b1) from b bo " +
      "where b2 = (select b2 from b where b3 = a3 and b3 > 1) " +
      "and b2 < 30 group by bo.b4 div 100)"
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val flat = CorrelationRepair.flattenTwoLevel(parsed,
      CorrelationRepair.StatementSchema.of(spark, parsed))
    assert(flat.isDefined, "flatten did not fire on the grouped middle")
    def middle(p: LogicalPlan): Aggregate = p.collectFirst {
      case Filter(c, _) => c.collectFirst { case s: ScalarSubquery => s.plan }
    }.flatten.collect { case a: Aggregate => a }.get
    val (before, after) = (middle(parsed), middle(flat.get))
    assert(after.groupingExpressions == before.groupingExpressions,
      s"middle GROUP BY changed: ${after.groupingExpressions}")
    val moved = EqualTo(UnresolvedAttribute(Seq("__q1", "__q1_b3")),
      UnresolvedAttribute(Seq("a3")))
    assert(after.child.collectFirst { case Filter(c, _) => c }
      .exists(_.exists(_ == moved)),
      s"join conjunct missing from the WHERE below the GROUP BY: $after")
    // and the healed statement runs: per a-row k the inner is k+1, the
    // middle's single group max(b1) is k (DuckDB: 0;1;2)
    val rows = withRepair(SqlRunner.exec(spark, sql))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(0L, 1L, 2L), s"got ${rows.toSeq}")
  }

  test("r15 review: a dot inside a string literal does not disqualify " +
    "an inner-local conjunct") {
    spark.sql("""CREATE OR REPLACE TEMP VIEW nation AS
      |SELECT id AS n_nationkey, concat('N', id) AS n_name,
      |       id AS n_regionkey FROM range(4)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW region AS
      |SELECT id AS r_regionkey, concat('R', id) AS r_name
      |FROM range(4)""".stripMargin)
    spark.sql("""CREATE OR REPLACE TEMP VIEW customer AS
      |SELECT id + 1 AS c_custkey, id AS c_nationkey FROM range(4)
      |""".stripMargin)
    val sql = "select n_nationkey from nation where n_nationkey >= (" +
      "select max(c_nationkey) from customer " +
      "where c_custkey <= n_nationkey + 1 and c_nationkey = " +
      "(select r_regionkey from region where r_regionkey = n_regionkey " +
      "and r_name not like '%.%'))"
    val rows = withRepair(SqlRunner.exec(spark, sql))
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(0L, 1L, 2L, 3L), s"got ${rows.toSeq}")
  }

  private def schemaTables(sql: String): Set[String] =
    graft.plans.CorrelationRepair.StatementSchema.of(spark,
      spark.sessionState.sqlParser.parsePlan(sql)).tables.keySet

  test("StatementSchema resolves every table of an AS-aliased comma " +
    "list, and a string literal names no table") {
    Seq("nation", "region", "customer").foreach { t =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW $t AS SELECT id AS x, " +
        "'' AS note FROM range(1)")
    }
    assert(schemaTables(
      "select * from nation as n, region r, customer where n.x = 1")
      == Set("nation", "region", "customer"))
    assert(schemaTables(
      "select * from nation where note = 'copied from region, customer'")
      == Set("nation"))
  }

  test("r15 review: a disjunctive INNER where declines the hoist — " +
    "the AND-split of `k = outer and x or y` would re-associate the " +
    "OR and silently change which rows the scalar sees") {
    // flatten already refuses (the inner WHERE is a disjunction); the hoist
    // must too, so the statement keeps its original analyzer error.
    val sql = "select a1 from a where a1 = (select b1 from b bo " +
      "where b2 = (select b2 from b where b3 = a3 and b3 > 1 or b4 = 99)" +
      " or bo.b4 = 77)"
    val e = withRepair(intercept[Exception](SqlRunner.exec(spark, sql)))
    assert(Option(e.getMessage).exists(_.contains("UNRESOLVED_COLUMN")),
      s"expected the original analyzer error, got: ${e.getMessage}")
  }

  test("r15 review: a DISTINCT inner select declines both rewrites — " +
    "count(*) counts pre-distinct rows, so the >1-row guard would " +
    "raise where the original deduplicates to one value") {
    val flat = "select a1 from a where a1 = (select b1 from b bo " +
      "where b2 = (select distinct b2 from b where b3 = a3 and b3 > 1)" +
      " and b2 < 30)"
    val e1 = withRepair(intercept[Exception](SqlRunner.exec(spark, flat)))
    assert(Option(e1.getMessage).exists(_.contains("UNRESOLVED_COLUMN")))
    val hoist = "select a1 from a where a1 = (select b1 from b bo " +
      "where b2 = (select distinct b2 from b where b3 = a3 and b3 > 1)" +
      " or bo.b4 = 77)"
    val e2 = withRepair(intercept[Exception](SqlRunner.exec(spark, hoist)))
    assert(Option(e2.getMessage).exists(_.contains("UNRESOLVED_COLUMN")))
  }

  test("r15 review: an inner trailing LIMIT declines cleanly — " +
    "swallowed into the last conjunct it landed verbatim inside the " +
    "generated guard text") {
    val sql = "select a1 from a where a1 = (select b1 from b bo " +
      "where b2 = (select b2 from b where b3 = a3 limit 1) and b2 < 30)"
    val e = withRepair(intercept[Exception](SqlRunner.exec(spark, sql)))
    assert(Option(e.getMessage).exists(_.contains("UNRESOLVED_COLUMN")))
  }

  test("StatementSchema continues a comma list past a JOIN's ON " +
    "condition, and ORDER BY columns name no table") {
    Seq("t1", "t2", "t3").foreach { t =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW $t AS " +
        "SELECT id AS k, id AS x, id AS p, id AS c1, id AS c2 FROM range(1)")
    }
    assert(schemaTables(
      "select * from t1 join t2 on t1.k = t2.k, t3 where x = 1")
      == Set("t1", "t2", "t3"))
    assert(schemaTables(
      "select * from t1 join t2 on t1.k = t2.k where p order by c1, c2")
      == Set("t1", "t2"))
  }

  test("r15 canary: the analyzer error classes the dispatch keys on " +
    "are still what Spark emits for the two trigger shapes") {
    // CorrelationRepair.correlationRepairs dispatches on these message
    // substrings; a Spark upgrade that renames either class would
    // silently disable the repair (failing SQL keeps its original
    // error — safe, but the capability vanishes). This pins the
    // contract so the rename fails loudly here instead.
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql(twoLevel).schema)
    assert(e1.getCondition != null &&
      e1.getCondition.startsWith("UNRESOLVED_COLUMN"),
      s"two-level rejection class drifted: ${e1.getCondition}")
    assert(e1.getMessage.contains("UNRESOLVED_COLUMN"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("select a1, 5+(select b2 from b where b1=a1) " +
        "from a group by 1").schema)
    assert(e2.getCondition ==
      "SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION",
      s"grouped-scalar rejection class drifted: ${e2.getCondition}")
    assert(e2.getMessage.contains(
      "SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_AGGREGATE_FUNCTION"))
  }

  // ------------------------------------------ battery repair-on-error
  // shims (graft.regress.UnitMiner), on the same a/b views

  test("battery shim: a partial derived-table alias list is padded to " +
    "the child's arity and keeps the first k columns") {
    val sql = "select a4 from (select a3, a4 from a) b(a4)"
    val raw = intercept[Exception](spark.sql(sql).schema)
    assert(raw.getMessage.contains("ASSIGNMENT_ARITY_MISMATCH"))
    // a4 names the renamed first column, a3 (DuckDB: 2;3;4)
    val rows = graft.regress.UnitMiner.analyzeRepaired(spark, sql)
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(2L, 3L, 4L), s"got ${rows.toSeq}")
  }

  test("battery shim: a table alias that names a column is renamed " +
    "together with the qualified references to it") {
    val sql = "select a1.a2 from a a1 " +
      "where a1.a2 >= (select min(a2) from a where a2 > a1.a1)"
    val raw = intercept[Exception](spark.sql(sql).schema)
    assert(raw.getMessage.contains("INVALID_EXTRACT_BASE_FIELD_TYPE"))
    // per outer row k: min(a2) over a2 > k is k+1 = the outer a2
    val rows = graft.regress.UnitMiner.analyzeRepaired(spark, sql)
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"got ${rows.toSeq}")
  }
}

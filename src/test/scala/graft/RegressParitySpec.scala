package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.regress.RefRegress
import graft.{SqlDialect, SqlRunner}

/** The reference's own regression goldens, executed verbatim: its
  * `tpch/q01.sql…q22.sql` and `tpch/select/sql01…08.sql`, on its own
  * `.tbl` load from `tpch/data/0001`, row-diffed against the result tails of
  * its committed expect files (`test/regress/expect/tpch0001[_select]`;
  * reference runner `test/UnitTest.cs:295-355`). No schema adaptation,
  * no oracle re-derivation — the rows the reference engine printed are
  * the rows asserted here, byte-for-byte in its own output format
  * (modulo fp-tolerance fallback, which none of these needed: all 22
  * TPC-H goldens match in exact order).
  *
  * Queries run through [[RefRegress.qpmodelize]], which reproduces the
  * reference's three documented non-standard execution semantics
  * (30/365-day intervals, dropped DISTINCT-in-aggregate, double
  * literals) — the engine's standard-semantics behavior for the same
  * constructs is oracle-tested in the main corpus; see the shim's
  * scaladoc for the file:line evidence of each quirk.
  */
class RegressParitySpec extends AnyFunSuite {

  private val Ref = "/root/reference"

  /** Isolated session: the regress views (lineitem, orders, …) must not
    * clobber other suites' registrations of the same names over the
    * driver testdata — newSession shares the SparkContext but owns its
    * temp-view catalog.
    */
  private lazy val session: SparkSession = {
    val s = TestSpark.spark.newSession()
    val loaded = RefRegress.loadTables(
      s, s"$Ref/tpch/sql_scripts/tpch.sql", s"$Ref/tpch/data/0001")
    assert(loaded.size == 8, s"expected the 8 TPC-H tables, got $loaded")
    s
  }

  private lazy val tpchTypes: (Set[String], Set[String]) =
    RefRegress.columnTypeSets(s"$Ref/tpch/sql_scripts/tpch.sql")

  private def run(s: SparkSession, sqlFile: String,
                  intCols: Set[String] = Set.empty,
                  doubleCols: Set[String] = Set.empty): Seq[String] =
    // Some reference files carry two statements (tpcds q24); the golden
    // tail is the LAST statement's rows — earlier statements still
    // execute (the expect interleaves their output with plan echoes).
    SqlRunner.splitStatements(RefRegress.querySql(sqlFile))
      .map(_.trim).filter(_.nonEmpty)
      .map(t => RefRegress.resultLines(
        s.sql(RefRegress.qpmodelize(t, intCols, doubleCols))))
      .last

  private def check(s: SparkSession, sqlFile: String, expectFile: String,
                    intCols: Set[String] = Set.empty,
                    doubleCols: Set[String] = Set.empty): Unit = {
    val exp = RefRegress.expectedRows(expectFile)
    val act = run(s, sqlFile, intCols, doubleCols)
    // Full-mode expects carry "(actual rows=N)" markers; an expect
    // without them is a committed explain-only golden (sql06) whose
    // result rows the reference never wrote — assert executability only.
    val fullMode = Files.readString(Paths.get(expectFile))
      .contains("(actual rows")
    if (fullMode) {
      RefRegress.diff(exp, act) match {
        case RefRegress.Mismatch(detail) => fail(s"$sqlFile: $detail")
        case _ => ()
      }
    }
  }

  (1 to 22).foreach { i =>
    val q = f"q$i%02d"
    test(s"reference golden tpch0001/$q — verbatim SQL, reference data") {
      check(session, s"$Ref/tpch/$q.sql",
        s"$Ref/test/regress/expect/tpch0001/$q.txt",
        tpchTypes._1, tpchTypes._2)
    }
  }

  // select/ subquery-variant suite: every member with a committed expect
  // (sql07 ships without one).
  (1 to 8).map(i => f"sql$i%02d")
    .filter(q => Files.exists(
      Paths.get(s"$Ref/test/regress/expect/tpch0001_select/$q.txt")))
    .foreach { q =>
      test(s"reference golden tpch0001_select/$q") {
        check(session, s"$Ref/tpch/select/$q.sql",
          s"$Ref/test/regress/expect/tpch0001_select/$q.txt",
          tpchTypes._1, tpchTypes._2)
      }
    }

  // ------------------------------------------------------------ TPC-DS

  /** The reference's TestTpcdsWithDataAndResult runnable list
    * (`test/UnitTest.cs:420-428`) on `tpcds/data/tiny`, against
    * `expect/tpcds0001`. Of its 46 committed expects:
    *
    *  - 39 match exactly (below), including q58/q83 — queries the
    *    reference itself excludes from its list ("bugs in Bind subquery
    *    in cte") but whose committed goldens this engine reproduces.
    *  - q1 / q43 / q65 carry goldens that DIVERGE from ground truth on
    *    the reference's own shipped data — DuckDB executed on the same
    *    `.tbl` files agrees with this engine row-for-row, and q43's
    *    golden is visibly self-inconsistent (both stores share six of
    *    seven day sums). Asserted as pinned divergences below, so a
    *    regression on OUR side still fails the suite.
    *  - q21 / q37 / q39 / q82 read `inventory`, whose `.tbl` the
    *    reference no longer ships; unlike time_dim /
    *    customer_demographics (fixed content, synthesized in
    *    [[RefRegress.registerSyntheticTpcdsDims]]) inventory quantities
    *    are RNG-generated and cannot be reconstructed. Guarded by a
    *    test that fails if the file reappears.
    */
  private lazy val tpcds: (SparkSession, Set[String], Set[String]) = {
    val s = TestSpark.spark.newSession()
    RefRegress.loadTables(
      s, s"$Ref/tpcds/sql_scripts/tpcds.sql", s"$Ref/tpcds/data/tiny")
    RefRegress.registerSyntheticTpcdsDims(s)
    val (ic, dc) =
      RefRegress.columnTypeSets(s"$Ref/tpcds/sql_scripts/tpcds.sql")
    (s, ic, dc)
  }

  private val TpcdsExact = Seq(
    "q2", "q3", "q7", "q15", "q17", "q19", "q24", "q25", "q26", "q28",
    "q30", "q32", "q34", "q35", "q42", "q45", "q46", "q50", "q52", "q55",
    "q58", "q59", "q61", "q62", "q68", "q69", "q71", "q73", "q79", "q81",
    "q83", "q88", "q90", "q91", "q92", "q94", "q95", "q96", "q99")

  TpcdsExact.foreach { q =>
    test(s"reference golden tpcds0001/$q — verbatim SQL, reference data") {
      val (s, ic, dc) = tpcds
      check(s, s"$Ref/tpcds/$q.sql",
        s"$Ref/test/regress/expect/tpcds0001/$q.txt", ic, dc)
    }
  }

  /** golden-divergent queries: (query, rows only in the golden, rows
    * only in our result) — the full symmetric difference, pinned. Our
    * side is the DuckDB-confirmed ground truth on the same data.
    */
  private val TpcdsDivergent = Seq(
    ("q1",
      Seq("AAAAAAAABCCAAAAA"),
      Seq("AAAAAAAAEJCAAAAA")),
    ("q43",
      Seq("able,AAAAAAAACAAAAAAA,10054.17,10584.75,668.24,8755.28," +
        "10667.57,12983.09,9530.96",
        "ought,AAAAAAAABAAAAAAA,10054.17,10584.75,,8755.28,10667.57," +
          "13423.38,9530.96"),
      Seq("able,AAAAAAAACAAAAAAA,8678.40,5300.84,3492.60,5036.68," +
        "6497.26,9614.44,5972.79",
        "ought,AAAAAAAABAAAAAAA,6601.71,7281.64,2426.74,8098.47," +
          "5288.95,7804.28,7886.58")),
    ("q65",
      Seq("able,Super bodies enable in the interests. Dull years " +
        "understand so diffe,6.72,5.38,4.78,edu packnameless #8"),
      Seq("ought,Entries ought to go models. Patients retain " +
        "rele,2.65,0.42,0.27,exportiamalg #1")))

  TpcdsDivergent.foreach { case (q, onlyGolden, onlyActual) =>
    test(s"reference golden tpcds0001/$q — pinned divergence " +
      "(golden defect; our rows are the DuckDB-adjudicated truth)") {
      val (s, ic, dc) = tpcds
      val exp = RefRegress.expectedRows(
        s"$Ref/test/regress/expect/tpcds0001/$q.txt")
      val act = run(s, s"$Ref/tpcds/$q.sql", ic, dc)
      assert(exp.diff(act) == onlyGolden, "golden-only rows moved")
      assert(act.diff(exp) == onlyActual, "our divergent rows moved")
    }
  }

  // -------------------------------------------------- TPC-H distributed

  /** The reference's TestTpchDistributed (`test/UnitTest.cs:461-483`):
    * same 22 query texts, but tables created through its tpch_d DDL —
    * REPLICATED region/nation and DISTRIBUTED BY on every fact — then
    * loaded through the COPY shim, i.e. the whole [[graft.SqlDialect]]
    * text surface end-to-end, against `expect/tpch0001_d`. The
    * reference excludes q13/q15 there and ships no expects for them.
    * DISTRIBUTED BY maps to bucketed parquet, so the suite also proves
    * the distribution ANALOG: the orders⋈lineitem join (both
    * distributed by orderkey) runs co-located — zero exchanges below
    * the join, the reference's `Redistribute == 0` assertion
    * (`UnitTest.cs:3598-3604`) in Catalyst form.
    */
  private lazy val tpchD: SparkSession = {
    val s = TestSpark.spark.newSession()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    // in-memory catalog forgets tables across JVMs; managed locations
    // persist — clear so CREATE TABLE can re-land
    rmrf(new java.io.File(GraftSession.targetDir("warehouse/graft_tpchd.db")))
    s.sql("CREATE DATABASE IF NOT EXISTS graft_tpchd")
    s.catalog.setCurrentDatabase("graft_tpchd")
    val ddl = Files.readString(
      Paths.get(s"$Ref/tpch/sql_scripts/tpch_d.sql"))
    SqlRunner.splitStatements(ddl).map(_.trim).filter(_.nonEmpty)
      .foreach(stmt =>
        SqlDialect.exec(s, stmt).getOrElse(s.sql(stmt)))
    Seq("region", "nation", "part", "supplier", "partsupp", "customer",
      "orders", "lineitem").foreach { t =>
      assert(SqlDialect.exec(s,
        s"copy $t from '$Ref/tpch/data/0001/$t.tbl'").isDefined,
        s"COPY shim did not match for $t")
    }
    s
  }

  (1 to 22).filterNot(i => i == 13 || i == 15).foreach { i =>
    val q = f"q$i%02d"
    test(s"reference golden tpch0001_d/$q — distributed-by DDL shims") {
      check(tpchD, s"$Ref/tpch/$q.sql",
        s"$Ref/test/regress/expect/tpch0001_d/$q.txt",
        tpchTypes._1, tpchTypes._2)
    }
  }

  test("tpch0001_d: orders⋈lineitem on orderkey is co-located " +
    "(no redistribute — mirrors UnitTest.cs:3586-3604's broadcast loop)") {
    val sql =
      """SELECT o_orderkey, COUNT(*) AS n
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderkey ORDER BY n DESC, o_orderkey LIMIT 5"""
        .stripMargin
    // broadcast enabled (the reference's enable_bc pass): Broadcast>0,
    // Redistribute=0 — Spark picks BHJ for the small side, and neither
    // input may hash-shuffle
    val planBc = TestSpark.finalPlan(tpchD.sql(sql))
    assert(planBc.contains("Join"), planBc)
    assert(!planBc.contains("Exchange hashpartitioning"),
      s"distributed join redistributed an input:\n$planBc")
    // broadcast disabled: the bucketed (DISTRIBUTED BY) layout itself
    // must satisfy the join — SMJ over bucketed scans, still zero
    // hash exchanges (the reference's Redistribute=0, non-bc pass;
    // its non-bc plan shows Redistribute because its tables hash by
    // key at runtime — buckets pre-materialize exactly that)
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    val old = tpchD.conf.get(threshold)
    try {
      tpchD.conf.set(threshold, "-1")
      val planSmj = TestSpark.finalPlan(tpchD.sql(sql))
      assert(planSmj.contains("SortMergeJoin"), planSmj)
      assert(!planSmj.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffled an input:\n$planSmj")
    } finally tpchD.conf.set(threshold, old)
  }

  test("tpcds q84/q85 — orphaned by the reference's own runnable list " +
    "(listed as q00084/q00085, matching no file) — execute here; " +
    "DuckDB-adjudicated empty at tiny scale") {
    val (s, ic, dc) = tpcds
    Seq("q84", "q85").foreach { q =>
      assert(run(s, s"$Ref/tpcds/$q.sql", ic, dc).isEmpty,
        s"$q: DuckDB on the same data (+ synthesized dims) returns no " +
          "rows at this scale; a non-empty result is a regression")
    }
  }

  test("tpcds inventory queries (q21/q37/q39/q82) stay excluded only " +
    "while the reference ships no inventory.tbl") {
    assert(!Files.exists(
      Paths.get(s"$Ref/tpcds/data/tiny/inventory.tbl")),
      "inventory.tbl appeared — add q21/q37/q39/q82 to the suite")
  }
}

package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.regress.{RefRegress, UnitMiner}

/** The reference's INLINE unit battery, mined from `test/UnitTest.cs`
  * and replayed sequentially (setup DML included, micro-table state
  * reset per method) against this engine on the reference's own
  * micro-table data — see [[UnitMiner]].
  *
  * 310 (sql, expected-rows) assertions are mined; three are inherently
  * nondeterministic (LIMIT without ORDER BY) and of the remaining 307,
  * **301 pass verbatim** (under the documented qpmodel dialect shims,
  * including the repair-on-error rewrites: two-level-correlation
  * flattening, partial derived-table alias lists, column-shadowing
  * table aliases, and round 13's grouped-scalar-subquery lift and
  * disjunctive-hoist). The 6 non-passes are each pinned below with
  * their class — three are reference defects DuckDB refutes on the
  * same data, one is a defect the reference's own source comment
  * concedes, the other two are surface differences (unbounded-stream
  * table, hop-window alignment). The pass count is pinned EXACTLY so
  * both regressions and silent improvements surface.
  */
class UnitBatterySpec extends AnyFunSuite {

  /** line in UnitTest.cs → why the case cannot pass verbatim.
    * Line-number pins are stable because /root/reference is read-only;
    * if the reference source ever changes, the mined-count assertions
    * fail first and the pins re-derive from a fresh replay.
    */
  private val Pinned: Map[Int, String] = {
    Map(
      // rounds ≤11 pinned 13 two-level-correlation cases (1048/1050/
      // 1062/1346/1349/1352/1356/1360/1364/3403/3416/3442/3484),
      // 1125/2645/2647/2649 (partial derived-table alias lists) and
      // 1369 (column-shadowing table alias). Round 12's repair-on-error
      // rewrites (UnitMiner.flattenTwoLevel / padDerivedAliases /
      // renameShadowAliases) close all but 1062, which is correlation
      // under a top-level OR: the join flatten is only valid in a
      // conjunctive context (an inner join drops rows the OR's other
      // arm would admit), so the shape is re-pinned as an engine limit,
      // not rewrite-incomplete.
      // 1062 (two-level correlation under a disjunctive WHERE, where
      // the conjunctive flatten is invalid) healed in r13 by
      // UnitMiner.hoistTwoLevelScalar — the inner subquery's value
      // depends only on outer-block columns, so it precomputes as a
      // grouped left join at the outer FROM (scalar error semantics
      // preserved via count + raise_error).
      // 1392 (correlated scalar subquery in a grouped select list)
      // healed in r13 by UnitMiner.liftGroupedScalarSubquery.
      2215 -> ("reference defect, conceded in its own source: the " +
        "golden output 0,1;1,1;2,1 is what UnitTest.cs:2211-2215 " +
        "itself comments as 'incorrect results' (correct would be " +
        "0,1;2,1;4,1 for select abs(-a1*2) group by round(a1,10), and " +
        "count() without args should be an error). Spark rejects the " +
        "statement — matching the golden would mean reproducing a " +
        "bug the reference itself disowns"),
      2672 -> ("set-op precedence: the reference evaluates UNION/" +
        "INTERSECT left-to-right; standard (and DuckDB on this data) " +
        "binds INTERSECT tighter — our 3 rows are the standard answer"),
      2944 -> ("reference defect: aggregate-in-correlated-HAVING-" +
        "subquery — DuckDB on the same data returns our 3 rows, not " +
        "the golden 1"),
      2948 -> ("reference defect: same family — DuckDB returns our " +
        "empty result, not the golden row"),
      3680 -> ("ainf is the unbounded stream table: batch replay has " +
        "no unbounded source (graft.streaming.Streams is the streaming " +
        "surface, tested in StreamingSpec)"),
      3700 -> ("hop-window alignment convention differs; this engine's " +
        "hop is DuckDB-oracle-paired in the corpus " +
        "(window_hop_dialect)"))
  }

  /** LIMIT without ORDER BY (L230/L2634/L2813): any subset is
    * standard-valid — the expectation encodes the reference's own scan
    * order, and whether this engine happens to produce the same subset
    * depends on partitioning (two of the three currently do). Allowed
    * either way.
    */
  private val Nondeterministic = Set(230, 2634, 2813)

  test("reference inline unit battery: 310 mined, 301/307 deterministic pass verbatim, " +
    "every non-pass pinned to a documented class") {
    val src = Files.readString(
      Paths.get("/root/reference/test/UnitTest.cs"))
    val events = UnitMiner.mine(src)
    val checks = events.collect { case c: UnitMiner.Check => c }
    assert(checks.size == 310, s"mined ${checks.size} checks")

    val s = TestSpark.spark.newSession()
    GraftSession.removeTargetDir("warehouse/graft_unit.db")
    s.sql("CREATE DATABASE IF NOT EXISTS graft_unit")
    s.catalog.setCurrentDatabase("graft_unit")
    UnitMiner.loadMicroTables(s)
    UnitMiner.registerUdfs(s)
    RefRegress.loadTables(s, "/root/reference/tpch/sql_scripts/tpch.sql",
      "/root/reference/tpch/data/0001")

    val checkLines = checks.map(_.line).toSet
    val results = UnitMiner.replayAll(s, events)
      .filter(r => checkLines.contains(r.line))
      .filterNot(r => Nondeterministic.contains(r.line))
    val nonPass = results.filter(_.outcome != UnitMiner.Pass)

    val unexpected = nonPass.filterNot(r => Pinned.contains(r.line))
    assert(unexpected.isEmpty,
      "unpinned battery failures:\n" + unexpected.map(r =>
        s"  ${r.method} L${r.line}: ${r.sql.take(90)} -> ${r.outcome}")
        .mkString("\n"))

    val healed = Pinned.keySet -- nonPass.map(_.line).toSet
    assert(healed.isEmpty,
      s"pinned cases now PASS — unpin them and raise the count: $healed")

    assert(results.count(_.outcome == UnitMiner.Pass) == 301)
  }

  /** Negative battery: statements the reference asserts FAIL
    * (`Assert.IsNull(result)`). 22 of 27 are rejected here too; the five
    * accepted ones are standard-semantics supersets, pinned with why:
    */
  private val NegAccepted: Map[Int, String] = Map(
    1555 -> ("select-list aliases are not visible in JOIN ON per " +
      "standard scoping — `c2` resolves to the column, the query is " +
      "valid (reference resolves the alias, then rejects as ambiguous)"),
    1561 -> ("self-join without aliases: both relations are " +
      "distinguishable internally; `select *` is unambiguous"),
    1563 -> ("duplicate relation alias with star expansion — " +
      "unambiguous output, per-column references would still error"),
    2226 -> ("GROUP BY / HAVING on select-list aliases: supported " +
      "(spark.sql.groupByAliases), a deliberate capability superset"),
    2565 -> ("the duplicated derived-table columns are the SAME " +
      "attribute, so the reference `a2` is not genuinely ambiguous"))

  test("negative battery: 27 expected-failure statements — 22 rejected " +
    "in parity, 5 pinned standard-semantics acceptances") {
    val src = Files.readString(
      Paths.get("/root/reference/test/UnitTest.cs"))
    val events = UnitMiner.mine(src)
    val negLines = events.collect {
      case n: UnitMiner.NegCheck => n.line }.toSet
    assert(negLines.size == 27, s"mined ${negLines.size} negative cases")

    val s = TestSpark.spark.newSession()
    GraftSession.removeTargetDir("warehouse/graft_unit_neg.db")
    s.sql("CREATE DATABASE IF NOT EXISTS graft_unit_neg")
    s.catalog.setCurrentDatabase("graft_unit_neg")
    UnitMiner.loadMicroTables(s)
    UnitMiner.registerUdfs(s)
    RefRegress.loadTables(s, "/root/reference/tpch/sql_scripts/tpch.sql",
      "/root/reference/tpch/data/0001")

    val negResults = UnitMiner.replayAll(s, events)
      .filter(r => negLines.contains(r.line))
    val accepted = negResults.collect {
      case r@UnitMiner.Result(_, _, _, UnitMiner.NegAccepted(_)) => r }
    val unexpected = accepted.filterNot(r => NegAccepted.contains(r.line))
    assert(unexpected.isEmpty,
      "engine accepted statements the reference rejects, unpinned:\n" +
        unexpected.map(r => s"  L${r.line}: ${r.sql.take(90)}")
          .mkString("\n"))
    val healed = NegAccepted.keySet -- accepted.map(_.line).toSet
    assert(healed.isEmpty,
      s"pinned acceptances now REJECT — reclassify: $healed")
    assert(negResults.count(_.outcome == UnitMiner.Pass) == 22)
  }

  test("StringCompare.cs battery: all 5 assertions pass verbatim " +
    "(char/varchar comparison semantics over its own created tables)") {
    val src = Files.readString(
      Paths.get("/root/reference/test/StringCompare.cs"))
    val events = UnitMiner.mine(src)
    val checks = events.collect { case c: UnitMiner.Check => c }
    assert(checks.size == 5, s"mined ${checks.size} checks")
    val s = TestSpark.spark.newSession()
    GraftSession.removeTargetDir("warehouse/graft_unit_str.db")
    s.sql("CREATE DATABASE IF NOT EXISTS graft_unit_str")
    s.catalog.setCurrentDatabase("graft_unit_str")
    val results = UnitMiner.replayAll(s, events)
    val nonPass = results.filter(_.outcome != UnitMiner.Pass)
    assert(nonPass.isEmpty, nonPass.map(r =>
      s"L${r.line}: ${r.sql.take(80)} -> ${r.outcome}").mkString("\n"))
  }

  test("battery shims: substring end-position, int division, count()") {
    assert(UnitMiner.substringEndPos(
      "select substring(upper('mat') || upper('he'), 3, 8) from a")
      == "select substring(upper('mat') || upper('he'), 3, (8) - (3) + 1) from a")
    assert(UnitMiner.intDivide("select(4-a3)/2, a1/2*2 from a")
      == "select((4-a3) div 2), (a1 div 2)*2 from a")
    // double operands stay real division
    assert(UnitMiner.intDivide("select a1/CAST(2.0 AS DOUBLE) from a")
      == "select a1/CAST(2.0 AS DOUBLE) from a")
    assert(UnitMiner.shim("select count() from a")
      .contains("count(*)"))
  }
}

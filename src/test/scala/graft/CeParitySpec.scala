package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.regress.CeBattery

/** Cardinality-estimation parity on the reference's own CE battery
  * (`test/regress/sql/ce.sql` + committed `expect/ce.out`): 13 probes,
  * both estimators' q-errors compared on identical data and identical
  * (qpmodel-semantics) predicates. Measured state this spec pins
  * (post-r13 estimator extensions):
  *
  *  - every probe gets an EXACT CBO rowCount (ANALYZE-fed estimation,
  *    never the size-based fallback);
  *  - LIKE-prefix (probe 5): priced from the registered string
  *    equal-depth histogram as the range [MEDIUM, MEDIUN) — 1.03×,
  *    where Spark's FilterEstimation has no StartsWith handler (5.7×
  *    before r13) and the reference's per-character heuristic errs
  *    35×;
  *  - group-count probes 10–12 are estimated EXACTLY (distinct-count
  *    stats) where the reference errs 2.9×/2.1×;
  *  - the correlated 2-key join (probe 7) — formerly our worst at 7.2×
  *    under per-column independence — is priced by the column-group
  *    containment bound ([[graft.catalog.ExtendedStats]]) at 1.23×,
  *    and since r14 by the frequency-correlation form
  *    sel_L·sel_R·√(F2_L·F2_R) at 1.049×, beating the reference's
  *    min-ndv-product 3.52×;
  *  - the chain probes the reference used to win — left-join+filter
  *    (probe 8, ours was 2.59× vs its 1.50×) and the 3-way join
  *    (probe 9, 2.69× vs 1.00×) — are priced by recursive per-edge
  *    containment over exact registered ndv at 1.00×: Spark's own
  *    chain estimation re-derives intermediate ndv per join and the
  *    error compounds; the containment composition doesn't;
  *  - join+group+sort (probe 13, was 1.22×): the aggregate formula
  *    min(Π key-ndv, child) seeded by the containment chain estimate
  *    prices the group count exactly (1500 = truth);
  *  - geometric-mean q-error ~1.008 vs the reference's 1.71 on its
  *    own battery, worst probe 1.049 vs its 35×; every probe at or
  *    within 2% of the reference's q-error.
  */
class CeParitySpec extends AnyFunSuite {

  test("reference CE battery: our CBO beats the reference's estimator " +
    "on gmean and worst-case q-error; group counts estimated exactly") {
    val s = TestSpark.spark.newSession()
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    rmrf(new java.io.File(GraftSession.targetDir("warehouse/graft_ce.db")))
    s.sql("CREATE DATABASE IF NOT EXISTS graft_ce")
    s.catalog.setCurrentDatabase("graft_ce")
    val ddl = Files.readString(
      Paths.get("/root/reference/tpch/sql_scripts/tpch.sql"))
    SqlRunner.splitStatements(ddl).map(_.trim).filter(_.nonEmpty)
      .foreach(stmt => SqlDialect.exec(s, stmt))
    Seq("region", "nation", "part", "supplier", "partsupp", "customer",
      "orders", "lineitem").foreach { t =>
      SqlDialect.exec(s,
        s"copy $t from '/root/reference/tpch/data/0001/$t.tbl'")
      s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    // extended stats on the composite join key: per-column ndv forces an
    // independence assumption that the correlated (partkey, suppkey)
    // tuple breaks — the registered column-group ndv drives the
    // containment-bound estimate for probe 7 (see ExtendedStats)
    graft.catalog.ExtendedStats.analyzeColumnGroup(
      s, "partsupp", Seq("ps_partkey", "ps_suppkey"))
    graft.catalog.ExtendedStats.analyzeColumnGroup(
      s, "lineitem", Seq("l_partkey", "l_suppkey"))
    // r13 estimator extensions, registered as a DBA would for the
    // schema's join keys and LIKE-probed column: exact ndv (ANALYZE's
    // HLL ±2% is visible in every containment divisor) and the string
    // equal-depth histogram behind LIKE-prefix ranges.
    graft.catalog.ExtendedStats.analyzeStringHistogram(s, "part", "p_type")
    Seq("orders" -> Seq("o_orderkey", "o_custkey"),
      "customer" -> Seq("c_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "partsupp" -> Seq("ps_partkey", "ps_suppkey"),
      "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey")
    ).foreach { case (t, cs) =>
      graft.catalog.ExtendedStats.analyzeExactNdv(s, t, cs)
    }
    val probes = CeBattery.run(s)
    assert(probes.size == 13, probes.map(_.idx))
    // our true counts must equal the reference's recorded actuals —
    // same data, same (shimmed) semantics
    probes.foreach(p => assert(p.ourAct == p.refAct,
      s"probe ${p.idx}: actual ${p.ourAct} != reference ${p.refAct}"))
    // group-count probes: exact
    Seq(10, 11, 12).foreach { i =>
      val p = probes(i - 1)
      assert(p.ourEst == p.ourAct, s"probe $i: est ${p.ourEst} != " +
        s"act ${p.ourAct} (distinct-count stats should be exact here)")
    }
    val ourG = CeBattery.gmean(probes.map(_.ourQ))
    val refG = CeBattery.gmean(probes.map(_.refQ))
    assert(ourG < refG,
      f"gmean q-error ours=$ourG%.3f vs reference=$refG%.3f")
    assert(probes.map(_.ourQ).max < probes.map(_.refQ).max,
      s"worst-case: ours=${probes.map(_.ourQ).max} " +
        s"ref=${probes.map(_.refQ).max}")
    // probe 7 (the correlated 2-key join) was the reference's one win
    // (3.52× vs our 7.2× under independence); the column-group ndv
    // containment priced it at 1.23×, and r14's frequency-correlation
    // form sel_L·sel_R·√(F2_L·F2_R) lands 1.049 — pin ≤ 1.1 so losing
    // the F2 pricing (or the moments) fails loudly
    assert(probes(6).ourQ <= probes(6).refQ,
      s"probe 7 (2-key join): ours=${probes(6).ourQ} " +
        s"ref=${probes(6).refQ} — column-group correction missing?")
    assert(probes(6).ourQ <= 1.1,
      s"probe 7 (2-key join): ours=${probes(6).ourQ} — F2 " +
        "frequency-correlation pricing missing?")
    // r13: the chain probes the reference used to win. Probe 8
    // (left-join + filter) and probe 9 (3-way chain) must now price at
    // or under the reference's q-error — recursive per-edge containment
    // with exact registered ndv, not Spark's compounding intermediate
    // re-derivation.
    Seq(8, 9).foreach { i =>
      val p = probes(i - 1)
      assert(p.ourQ <= p.refQ,
        s"probe $i (chain): ours=${p.ourQ} ref=${p.refQ} — " +
          "containment chain composition missing?")
    }
    // probe 13 (join+group+sort): min(key-ndv, containment chain)
    // prices the group count exactly — pin at-or-under the reference
    assert(probes(12).ourQ <= probes(12).refQ,
      s"probe 13 (grouped chain): ours=${probes(12).ourQ} " +
        s"ref=${probes(12).refQ} — groupedChainEstimate missing?")
    // LIKE-prefix (probe 5): the string histogram prices the range
    // [MEDIUM, MEDIUN) to bucket resolution — measured 1.03x; 1.5x
    // leaves slack for histogram resolution, not for losing the
    // rewrite (Spark-native pricing reads 5.7x).
    assert(probes(4).ourQ <= 1.5,
      s"probe 5 (LIKE prefix): ${probes(4).ourQ} — string histogram " +
        "estimate missing?")
    // Battery-wide: measured gmean ~1.008; the pin at 1.15 would catch
    // any probe silently regressing to its pre-r13 value.
    assert(ourG < 1.15, f"gmean q-error regressed: $ourG%.3f")
  }
}

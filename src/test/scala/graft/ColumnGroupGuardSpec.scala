package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.ExtendedStats

/** ColumnGroupCertifiedBroadcast: column-group statistics must change
  * the PLAN, not just the reported estimate.
  *
  * The scenario is a correlated composite key at sf0.01: a lineitem
  * self-join on (l_partkey, l_suppkey). Spark prices a multi-key join
  * with the MINIMUM per-key containment estimate — here
  * |L|²/ndv(partkey) ≈ 2.3M rows — while the pairs are nearly unique,
  * so the truth (= the registered F2 moment) is ~78k rows (~1.3 MB).
  * The over-estimate denies the broadcast, the downstream join pays a
  * full both-sides shuffle it never needed, and at 100 TB that shuffle
  * is the bottleneck. The rule must certify the side from √(F2_L·F2_R)
  * — a true Cauchy–Schwarz bound, not an estimate — and flip the
  * static plan to a broadcast join, with results byte-identical.
  */
class ColumnGroupGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = TestSpark.sf001Dir
  private var spark: SparkSession = _
  private val cols = Seq("l_partkey", "l_suppkey")
  private val tables =
    Seq("cg_li", "cg_li_wide", "cg_li_str", "cg_li_grow", "cg_li_rw")

  /** Managed-table root from the session's own conf (the hardcoded repo
    * path silently missed orphans whenever warehouse.dir differed —
    * worktree checkout, CI path).
    */
  private def warehouseDir: java.io.File = {
    val raw = spark.conf.get("spark.sql.warehouse.dir")
    val uri = new java.net.URI(raw)
    new java.io.File(if (uri.getScheme == "file") uri.getPath else raw)
  }

  override def beforeAll(): Unit = {
    spark = GraftSession.local(cores = 4)
    tables.foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // A previous JVM's crash can orphan the managed locations.
      GraftSession.removeDir(new java.io.File(warehouseDir, t).getPath)
    }
    spark.sql(
      s"""CREATE TABLE cg_li USING parquet AS
         |SELECT l_orderkey, l_partkey, l_suppkey
         |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    spark.sql(
      s"""CREATE TABLE cg_li_wide USING parquet AS
         |SELECT * FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    // A variable-width payload rides along with the pair key: ~120-char
    // strings, 6x the 20-byte schema default — the gap the byte
    // certificate must price from ANALYZE avgLen, not guess.
    spark.sql(
      s"""CREATE TABLE cg_li_str USING parquet AS
         |SELECT l_orderkey, l_partkey, l_suppkey,
         |       repeat(concat(l_returnflag, l_linestatus,
         |                     cast(l_orderkey % 10 AS string)), 40) AS pad
         |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    spark.sql("ANALYZE TABLE cg_li COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE cg_li_wide COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE cg_li_str COMPUTE STATISTICS")
  }

  override def afterAll(): Unit =
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def dropGroup(table: String = "cg_li"): Unit =
    spark.sql(s"ALTER TABLE $table UNSET TBLPROPERTIES IF EXISTS " +
      s"('${ExtendedStats.propertyKey(cols)}', " +
      s"'${ExtendedStats.f2PropertyKey(cols)}', " +
      s"'${ExtendedStats.rowsPropertyKey(cols)}', " +
      s"'${ExtendedStats.sizePropertyKey(cols)}')")

  /** The probe: self-join on the composite pair, feeding the right side
    * of a downstream LEFT join (outer joins don't reorder, so the pair
    * join survives as a unit; an inner chain would be restructured by
    * CBO). Without the group stat the downstream join is a sort-merge
    * join over a 2.3M-row fiction; with it, a certified broadcast of
    * the real ~78k rows.
    */
  /** `counted` must reference every column the test wants to SURVIVE to
    * the broadcast side — column pruning runs before the rule, so an
    * unconsumed payload is (correctly) gone by certification time.
    */
  private def probeOn(pairTable: String, extraCol: String = "",
                      counted: String = "p.l_orderkey"): String =
    s"""SELECT w.l_orderkey, count($counted) AS pair_cnt
       |FROM cg_li_wide w LEFT JOIN
       |     (SELECT a.l_orderkey$extraCol
       |      FROM $pairTable a JOIN $pairTable b
       |        ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey) p
       |  ON p.l_orderkey = w.l_orderkey
       |GROUP BY w.l_orderkey
       |ORDER BY pair_cnt DESC, w.l_orderkey LIMIT 20""".stripMargin

  private val probe = probeOn("cg_li")

  /** True iff the static plan broadcasts the OUTPUT OF A JOIN — the
    * missed opportunity the rule exists to reclaim. (Broadcasting a
    * base-table side inside the pair join itself doesn't count.)
    */
  private def broadcastsAJoinOutput(p: SparkPlan): Boolean =
    p.collect { case j: BroadcastHashJoinExec =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      build.collect { case x: BaseJoinExec => x }.nonEmpty
    }.exists(identity)

  private def hasBroadcastHint(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
      .exists(h => Seq(h.leftHint, h.rightHint).flatten
        .exists(_.strategy.contains(BROADCAST)))

  private def withThreshold[T](bytes: Long)(f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try f finally spark.conf.set(key, old)
  }

  test("rule placement: User Provided Optimizers runs after Join Reorder") {
    val names = spark.sessionState.optimizer.batches.map(_.name)
    val reorder = names.indexOf("Join Reorder")
    val user = names.indexOf("User Provided Optimizers")
    assert(reorder >= 0 && user >= 0 && reorder < user,
      s"batch order changed: $names")
    assert(spark.experimental.extraOptimizations
      .exists(_.isInstanceOf[graft.plans.ColumnGroupCertifiedBroadcast]))
  }

  test("scenario teeth: Spark's min-per-key rule over-estimates; the " +
    "containment lower bound never exceeds it") {
    dropGroup()
    val pair = spark.sql(
      """SELECT a.l_orderkey FROM cg_li a JOIN cg_li b
        |ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey"""
        .stripMargin)
    val est = pair.queryExecution.optimizedPlan.stats.rowCount.get
    val actual = pair.count()
    assert(est.toDouble / actual > 5.0,
      s"Spark no longer over-estimates the correlated pair join " +
        s"(est=$est actual=$actual) — re-derive the scenario")
    // Why the rule has no broadcast-BLOCKING direction: tuple-ndv ≥ any
    // single-key ndv, so the group lower bound |L|²/g sits at or under
    // Spark's min-per-key estimate — a side Spark sizes as
    // broadcastable is never one the group stat sizes over threshold.
    val ndv = ExtendedStats.analyzeColumnGroup(spark, "cg_li", cols)
    try {
      val n = spark.table("cg_li").count()
      assert(BigInt(n) * BigInt(n) / BigInt(ndv) <= est)
    } finally dropGroup()
  }

  test("without the group stat, the over-estimate denies the broadcast") {
    dropGroup()
    withThreshold(4L << 20) {
      val plan = spark.sql(probe).queryExecution.sparkPlan
      assert(!broadcastsAJoinOutput(plan),
        s"pair-join output broadcast without certification?\n$plan")
    }
  }

  test("with the group stat, the certified bound flips the plan to a broadcast join") {
    ExtendedStats.analyzeColumnGroup(spark, "cg_li", cols)
    try {
      withThreshold(4L << 20) {
        val df = spark.sql(probe)
        assert(hasBroadcastHint(df),
          "certified-broadcast hint missing from the optimized plan")
        val plan = df.queryExecution.sparkPlan
        assert(broadcastsAJoinOutput(plan),
          s"pair-join output still shuffled despite certification:\n$plan")

        // The certificate is tight, not just under-threshold: for a
        // self-join the Cauchy–Schwarz bound IS the true cardinality
        // (F2 = Σc² exactly), modulo the stored double's 1.001 slack.
        val actual = spark.sql(
          """SELECT count(*) FROM cg_li a JOIN cg_li b
            |ON a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey"""
            .stripMargin).head().getLong(0)
        val f2 = ExtendedStats.groupF2FromProperties(
          spark.sessionState.catalog.getTableMetadata(
            spark.sessionState.sqlParser.parseTableIdentifier("cg_li"))
            .properties, cols).get
        assert(f2 == actual.toDouble,
          s"self-join F2 $f2 should equal the true join size $actual")
      }
    } finally dropGroup()
  }

  test("certified and uncertified plans return identical results") {
    ExtendedStats.analyzeColumnGroup(spark, "cg_li", cols)
    try {
      withThreshold(4L << 20) {
        val certified = spark.sql(probe).collect().map(_.toSeq).toSeq
        dropGroup()
        val plain = spark.sql(probe).collect().map(_.toSeq).toSeq
        assert(certified == plain)
      }
    } finally dropGroup()
  }

  test("no hint for single-key joins, over-bound thresholds, or sides " +
    "Spark already broadcasts") {
    ExtendedStats.analyzeColumnGroup(spark, "cg_li", cols)
    try {
      // Single-key self-join: no group applies.
      val single = spark.sql(
        """SELECT count(*) FROM cg_li a JOIN cg_li b
          |ON a.l_orderkey = b.l_orderkey""".stripMargin)
      assert(!hasBroadcastHint(single))
      // Threshold below the certified bound (~1.3 MB): stay silent.
      withThreshold(512L << 10) {
        assert(!hasBroadcastHint(spark.sql(probe)))
      }
      // Threshold above Spark's own estimate (~37 MB): the planner
      // broadcasts on its own, the rule must not double-hint.
      withThreshold(64L << 20) {
        val df = spark.sql(probe)
        assert(!hasBroadcastHint(df))
        assert(broadcastsAJoinOutput(df.queryExecution.sparkPlan))
      }
    } finally dropGroup()
  }

  test("bytes are certified, not guessed: a wide string output blocks " +
    "certification when schema-default pricing would have passed") {
    val strProbe = probeOn("cg_li_str", extraCol = ", a.pad",
      counted = "p.pad")
    ExtendedStats.analyzeColumnGroup(spark, "cg_li_str", cols)
    try {
      // No column stats yet (plain ANALYZE): the string width is pure
      // schema default — no byte evidence, so no certificate at ANY
      // threshold, even one the default-width product sits under.
      withThreshold(8L << 20) {
        assert(!hasBroadcastHint(spark.sql(strProbe)),
          "certified a variable-width side with no maxLen evidence")
      }
      spark.sql("ANALYZE TABLE cg_li_str COMPUTE STATISTICS FOR ALL COLUMNS")
      spark.catalog.refreshTable("cg_li_str") // new catalog snapshot
      // ANALYZE column stats must be re-snapshotted by the group analyze
      // too: the freshness gate pins the exact (rowCount, sizeInBytes)
      // identity recorded at group-analyze time.
      ExtendedStats.analyzeColumnGroup(spark, "cg_li_str", cols)
      // With maxLen the certificate prices the REAL byte bound (pad is
      // a constant 120 chars here, so max = avg; ×4 converts ANALYZE's
      // CODE-POINT count to the UTF-8 byte bound the broadcast builds —
      // a supplementary-plane code point is 4 bytes but counts 1).
      // Place the threshold strictly between the schema-default product
      // (what the pre-r13 rule multiplied) and the maxLen product: a
      // hint here would mean the guess, not the evidence, decided.
      val f2 = ExtendedStats.groupF2FromProperties(
        spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier("cg_li_str"))
          .properties, cols).get
      val maxLen = spark.sql(
        "SELECT max(length(pad)) FROM cg_li_str").head().getInt(0).toDouble
      val defaultBytes = f2 * (8 + 8 + 20) // row overhead + bigint + default
      val realBytes = f2 * (8 + 8 + (maxLen * 4 + 12))
      assert(realBytes > 2 * defaultBytes,
        s"scenario lost its teeth: real $realBytes vs default $defaultBytes")
      withThreshold(((defaultBytes + realBytes) / 2).toLong) {
        assert(!hasBroadcastHint(spark.sql(strProbe)),
          "certificate used schema-default width, not ANALYZE maxLen")
      }
      // Positive control — strings are certifiable WITH evidence: above
      // the real byte bound the hint fires (and Spark alone still
      // wouldn't broadcast: its estimate is ~30x over).
      withThreshold((realBytes * 2).toLong) {
        val df = spark.sql(strProbe)
        assert(hasBroadcastHint(df),
          "maxLen evidence present and bytes fit, but no certificate")
        assert(broadcastsAJoinOutput(df.queryExecution.sparkPlan))
      }
    } finally dropGroup("cg_li_str")
  }

  test("a grown table declines the certificate until re-analyzed") {
    spark.sql(
      s"""CREATE TABLE cg_li_grow USING parquet AS
         |SELECT l_orderkey, l_partkey, l_suppkey
         |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    try {
      spark.sql("ANALYZE TABLE cg_li_grow COMPUTE STATISTICS FOR ALL COLUMNS")
      ExtendedStats.analyzeColumnGroup(spark, "cg_li_grow", cols)
      val growProbe = probeOn("cg_li_grow")
      withThreshold(4L << 20) {
        assert(hasBroadcastHint(spark.sql(growProbe)))
        // Inserts after the analyze under-state F2; once the catalog
        // row count shows growth the rule must stop certifying (Spark's
        // native stats merely bias a guarded cost decision — this rule
        // FORCES a broadcast, so staleness it can see must disarm it).
        spark.sql(
          """INSERT INTO cg_li_grow
            |SELECT l_orderkey + 10000000, l_partkey, l_suppkey
            |FROM cg_li LIMIT 1000""".stripMargin)
        spark.sql("ANALYZE TABLE cg_li_grow COMPUTE STATISTICS")
        assert(!hasBroadcastHint(spark.sql(growProbe)),
          "stale F2 snapshot still certified after the table grew")
        // Re-analyze refreshes the moments: certificate restored.
        ExtendedStats.analyzeColumnGroup(spark, "cg_li_grow", cols)
        assert(hasBroadcastHint(spark.sql(growProbe)))
      }
    } finally spark.sql("DROP TABLE IF EXISTS cg_li_grow")
  }

  test("a same-row-count rewrite declines the certificate: the snapshot " +
    "identity must match exactly, not just not-grow") {
    spark.sql(
      s"""CREATE TABLE cg_li_rw USING parquet AS
         |SELECT l_orderkey, l_partkey, l_suppkey
         |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    try {
      spark.sql("ANALYZE TABLE cg_li_rw COMPUTE STATISTICS FOR ALL COLUMNS")
      ExtendedStats.analyzeColumnGroup(spark, "cg_li_rw", cols)
      val rwProbe = probeOn("cg_li_rw")
      withThreshold(4L << 20) {
        assert(hasBroadcastHint(spark.sql(rwProbe)))
        // INSERT OVERWRITE with the SAME row count but every key tuple
        // collapsed to one hot pair: the true self-join output explodes
        // to rows² while the recorded F2 still reads ~rows — the exact
        // shape the r13 one-sided growth check waved through. The
        // byte-size half of the snapshot identity must catch it.
        // (reads cg_li, not cg_li_rw itself — Spark refuses to overwrite
        // a table it is reading; the two hold identical row counts)
        spark.sql(
          """INSERT OVERWRITE cg_li_rw
            |SELECT l_orderkey, 1 AS l_partkey, 1 AS l_suppkey
            |FROM cg_li""".stripMargin)
        spark.sql("ANALYZE TABLE cg_li_rw COMPUTE STATISTICS")
        val meta = spark.sessionState.catalog.getTableMetadata(
          spark.sessionState.sqlParser.parseTableIdentifier("cg_li_rw"))
        assert(ExtendedStats.groupRowsFromProperties(meta.properties, cols)
          .map(BigInt(_)) == meta.stats.flatMap(_.rowCount),
          "scenario lost its teeth: the rewrite changed the row count")
        assert(!hasBroadcastHint(spark.sql(rwProbe)),
          "stale F2 still certified after a same-count rewrite")
        // Re-analyzing the group re-records the moments AND the
        // snapshot identity — but now F2 is huge, so the certificate
        // correctly stays unavailable at this threshold.
        ExtendedStats.analyzeColumnGroup(spark, "cg_li_rw", cols)
        assert(!hasBroadcastHint(spark.sql(rwProbe)),
          "rows-squared join output certified under a 4 MB threshold")
      }
    } finally spark.sql("DROP TABLE IF EXISTS cg_li_rw")
  }

  test("requireComplete: a bare session clone self-repairs (r15 — the " +
    "extensions carry, the live-state rules are re-established)") {
    GraftSession.requireComplete(spark)
    val bare = spark.newSession() // drops experimental.extraOptimizations
    assert(!bare.experimental.extraOptimizations
      .exists(_.isInstanceOf[graft.plans.ContainmentJoinReorder]),
      "scenario lost its teeth: newSession() no longer drops the rules")
    // Pre-r15 this threw; now the post-reorder rules are live state the
    // engine itself restores (requireComplete eagerly, the extensions-
    // injected analyzer installer on any analysis), so the clone is
    // repaired — only a session with no GraftExtensions at all fails.
    GraftSession.requireComplete(bare)
    val rules = bare.experimental.extraOptimizations
    assert(rules.exists(_.isInstanceOf[graft.plans.ContainmentJoinReorder]) &&
      rules.exists(_.isInstanceOf[graft.plans.ColumnGroupCertifiedBroadcast]))
  }

  test("ensurePostReorderRules repairs a half-registered session and " +
    "re-establishes the reorder-before-certify order (the r14 advisory)") {
    val s = spark.newSession()
    // a session that somehow carries ONLY the certify rule
    s.experimental.extraOptimizations =
      Seq(new graft.plans.ColumnGroupCertifiedBroadcast)
    GraftSession.ensurePostReorderRules(s)
    val kinds = s.experimental.extraOptimizations.map(_.getClass.getSimpleName)
    assert(kinds == Seq("ContainmentJoinReorder",
      "ColumnGroupCertifiedBroadcast"), s"got $kinds")
    // idempotent: a second ensure leaves the instances untouched
    val before = s.experimental.extraOptimizations
    GraftSession.ensurePostReorderRules(s)
    assert(s.experimental.extraOptimizations.zip(before)
      .forall { case (a, b) => a eq b })
  }

  test("the analyzer-injected installer restores the rules on a bare " +
    "clone's FIRST analysis — no explicit registration anywhere") {
    val bare = spark.newSession()
    assert(bare.experimental.extraOptimizations.isEmpty ||
      !bare.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.ContainmentJoinReorder]))
    bare.sql("SELECT 1").schema // analysis only — no execution needed
    val rules = bare.experimental.extraOptimizations
    assert(rules.exists(_.isInstanceOf[graft.plans.ContainmentJoinReorder]) &&
      rules.exists(_.isInstanceOf[graft.plans.ColumnGroupCertifiedBroadcast]),
      s"installer did not fire on analysis: $rules")
  }
}

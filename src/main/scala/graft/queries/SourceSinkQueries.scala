package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.QueryDef
import graft.api.GraftContext
import graft.catalog.Tables
import Sql._

/** Sources, sinks, DDL, COPY, ANALYZE, DSL façade, UDFs, and the
  * streaming scan — the SURVEY §2.1/§2.12 surface beyond plain parquet
  * scans. Each build function performs the side-effecting operation
  * (write CSV, create table, run the stream) and returns a result the
  * DuckDB oracle can recompute from the source tables, proving the
  * round-trip was lossless.
  */
object SourceSinkQueries {

  /** Remove a managed table's leftover warehouse directory: each Verify
    * run gets a fresh in-memory metastore, so DROP TABLE IF EXISTS cannot
    * see (or clean) the previous run's location.
    */
  private[queries] def dropTableAndLocation(s: SparkSession, table: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    graft.GraftSession.removeDir(java.nio.file.Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), table)
      .toString)
  }

  private val supplierChecksum =
    s"""SELECT COUNT(*) AS n, ${dsum("s_acctbal")} AS tot,
       |  MIN(s_name) AS mn, MAX(s_name) AS mx,
       |  CAST(SUM(s_nationkey) AS BIGINT) AS nk_sum
       |FROM %s""".stripMargin

  /** COPY round-trip (reference `CopyStmt` stmtDML.cs:245-285 reads
    * pipe-delimited CSV): write supplier as '|'-CSV, read it back with an
    * explicit schema, aggregate; oracle aggregates the original parquet —
    * equal iff the CSV round-trip is lossless. The write stays at the
    * source's parallelism (one part file per task — the real COPY/ingest
    * shape at scale); the schema'd read picks up the whole part-file
    * directory, and the checksum aggregate is order-insensitive.
    */
  val copyCsv: QueryDef = QueryDef("copy_csv_roundtrip",
    (s, dir) => {
      val out = graft.GraftSession.targetDir(
        s"copy_csv/${dir.replaceAll("[^a-zA-Z0-9]", "_")}")
      Tables.load(s, dir, "supplier")
        .write.mode("overwrite").option("sep", "|").csv(out)
      val schema = StructType(Seq(
        StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType)))
      s.read.schema(schema).option("sep", "|").csv(out)
        .createOrReplaceTempView("supplier_csv")
      s.sql(supplierChecksum.format("supplier_csv"))
    },
    Some(supplierChecksum.format("supplier")))

  /** DDL + INSERT sink (reference stmtDML.cs:50-115, PhysicInsert
    * PhysicalNode.cs:1625-1656): CREATE TABLE AS, INSERT INTO … SELECT,
    * read back through the catalog.
    */
  val ddlInsert: QueryDef = QueryDef("ddl_insert_select",
    (s, dir) => {
      Tables.registerAll(s, dir)
      dropTableAndLocation(s, "graft_nation_copy")
      s.sql("CREATE TABLE graft_nation_copy USING PARQUET AS SELECT * FROM nation")
      s.sql("""INSERT INTO graft_nation_copy
              |SELECT n_nationkey + 1000, n_name, n_regionkey
              |FROM nation WHERE n_nationkey < 5""".stripMargin)
      s.sql("""SELECT COUNT(*) AS n,
              |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
              |  MIN(n_name) AS mn
              |FROM graft_nation_copy""".stripMargin)
    },
    Some("""WITH t AS (SELECT n_nationkey, n_name FROM nation
           |  UNION ALL
           |  SELECT n_nationkey + 1000, n_name FROM nation WHERE n_nationkey < 5)
           |SELECT COUNT(*) AS n, CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
           |  MIN(n_name) AS mn
           |FROM t""".stripMargin))

  /** ANALYZE (reference AnalyzeStmt stmtDML.cs:117-162 feeding its CBO):
    * catalog table + COMPUTE STATISTICS FOR ALL COLUMNS (feeds Spark CBO,
    * enabled in GraftSession), then a query over the analyzed table.
    */
  val analyze: QueryDef = QueryDef("analyze_stats",
    (s, dir) => {
      Tables.registerAll(s, dir)
      dropTableAndLocation(s, "graft_li_analyzed")
      s.sql("""CREATE TABLE graft_li_analyzed USING PARQUET AS
              |SELECT * FROM lineitem WHERE l_orderkey <= 1000""".stripMargin)
      s.sql("ANALYZE TABLE graft_li_analyzed COMPUTE STATISTICS FOR ALL COLUMNS")
      s.sql(s"""SELECT l_returnflag, COUNT(*) AS cnt,
               |  ${dsum("l_quantity")} AS sum_qty
               |FROM graft_li_analyzed GROUP BY l_returnflag""".stripMargin)
    },
    Some(s"""SELECT l_returnflag, COUNT(*) AS cnt, ${dsum("l_quantity")} AS sum_qty
            |FROM lineitem WHERE l_orderkey <= 1000
            |GROUP BY l_returnflag""".stripMargin))

  /** Extended-statistics dialect forms (r13): EXACT NDV and STRING
    * HISTOGRAM — the statistics behind the containment chain estimator
    * and the LIKE-prefix range estimate
    * ([[graft.catalog.ExtendedStats]]). The registered exact ndv IS
    * oracle-checkable (DuckDB counts the same distincts), so the gate
    * row proves the analyze pass computes the statistic it claims; the
    * histogram's effect on estimates is graded by CeParitySpec against
    * the reference's own CE battery.
    */
  val analyzeExtended: QueryDef = QueryDef("analyze_exact_ndv",
    (s, dir) => {
      Tables.registerAll(s, dir)
      dropTableAndLocation(s, "graft_ord_ndv")
      s.sql("""CREATE TABLE graft_ord_ndv USING PARQUET AS
              |SELECT * FROM orders""".stripMargin)
      graft.SqlDialect.exec(s, "analyze table graft_ord_ndv compute statistics " +
        "for string histogram (o_orderpriority)")
      graft.SqlDialect.exec(s, "analyze table graft_ord_ndv compute statistics " +
        "for exact ndv (o_custkey, o_orderpriority)").get
        .orderBy("col_name")
    },
    Some("""SELECT 'graft_ord_ndv' AS target, 'o_custkey' AS col_name,
           |       COUNT(DISTINCT o_custkey) AS ndv FROM orders
           |UNION ALL
           |SELECT 'graft_ord_ndv', 'o_orderpriority',
           |       COUNT(DISTINCT o_orderpriority) FROM orders
           |ORDER BY col_name""".stripMargin))

  /** External stats injection (reference Presto-format stats import,
    * `PrestoStats.cs:38-119`, planning JOBench data-free): register
    * external parquet tables, inject warehouse-supplied rowCount/ndv
    * stats via [[graft.catalog.StatsImport]] — NO ANALYZE scan — then run
    * a hostile-FROM-order join the CBO must reorder off those stats
    * (region × customer cartesian if taken literally). At 100 TB, ANALYZE
    * is itself a full-corpus job; ingest-time profiles or a prior
    * cluster's catalog already know these numbers. Plan equivalence with
    * the ANALYZE path is asserted in StatsInjectionSpec; this gate row
    * proves the injected-stats path yields oracle-identical results.
    */
  val statsInject: QueryDef = QueryDef("stats_injected_cbo",
    (s, dir) => {
      Tables.registerAll(s, dir)
      Seq("customer", "nation", "region").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS ginj_$t")
        s.sql(s"CREATE TABLE ginj_$t USING PARQUET LOCATION '$dir/$t.parquet'")
      }
      // Ingest-time knowledge stand-in: row counts from the writer's
      // manifest (here: a cheap count on the small dims; customer scales
      // with SF). Column ndv/min/max as a profile service would report.
      val custRows = s.table("ginj_customer").count()
      graft.catalog.StatsImport.inject(s,
        s"""{"tables": {
           |  "ginj_customer": {"rowCount": $custRows,
           |    "sizeInBytes": ${custRows * 64},
           |    "columns": {
           |      "c_custkey": {"ndv": $custRows, "nullCount": 0,
           |        "min": "1", "max": "$custRows"},
           |      "c_nationkey": {"ndv": 25, "nullCount": 0,
           |        "min": "0", "max": "24"}}},
           |  "ginj_nation": {"rowCount": 25, "sizeInBytes": 2500,
           |    "columns": {
           |      "n_nationkey": {"ndv": 25, "nullCount": 0, "min": "0", "max": "24"},
           |      "n_regionkey": {"ndv": 5, "nullCount": 0, "min": "0", "max": "4"}}},
           |  "ginj_region": {"rowCount": 5, "sizeInBytes": 500,
           |    "columns": {
           |      "r_regionkey": {"ndv": 5, "nullCount": 0, "min": "0", "max": "4"}}}
           |}}""".stripMargin)
      s.sql(
        """SELECT r_name, COUNT(*) AS n_cust,
          |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
          |FROM ginj_region, ginj_customer, ginj_nation
          |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |GROUP BY r_name""".stripMargin)
    },
    Some("""SELECT r_name, COUNT(*) AS n_cust,
           |  CAST(SUM(c_custkey) AS BIGINT) AS key_sum
           |FROM region, customer, nation
           |WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
           |GROUP BY r_name""".stripMargin))

  /** Optimizer introspection as rows (reference `sys_memo_expr` /
    * `sys_memo_property`, `optimizer.cs:1239-1328`): the plan-phase
    * trees of a representative join+agg query, SELECTable like any
    * table. Plan shape is engine-specific by nature, so no DuckDB oracle
    * can exist; the query therefore lives in [[graft.Queries.introspection]]
    * — outside the oracle-scored gate corpus — and
    * `PlanIntrospectionSpec` asserts its semantics instead.
    */
  val sysPlanNodes: QueryDef = QueryDef("sys_plan_nodes",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val probe = s.sql(
        """SELECT n_name, COUNT(*) AS c FROM nation
          |JOIN region ON n_regionkey = r_regionkey
          |WHERE r_name <> 'EUROPE' GROUP BY n_name""".stripMargin)
      graft.api.PlanIntrospection.nodes(s, probe)
        .orderBy("phase", "ord")
    },
    None)

  /** Optimizer rule-trace introspection (the reference's memo
    * EXPLORATION surface, `sys_memo_expr`): which analyzer/optimizer/
    * planner rules effectively rewrote a representative query, as rows.
    * Engine-specific by nature → oracle-less, semantics asserted by
    * PlanIntrospectionSpec.
    */
  val sysRuleTrace: QueryDef = QueryDef("sys_rule_trace",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val probe = s.sql(
        """SELECT n_name, COUNT(*) AS c FROM customer
          |JOIN nation ON c_nationkey = n_nationkey
          |WHERE n_regionkey < 3 AND c_acctbal > 0
          |GROUP BY n_name""".stripMargin)
      graft.api.PlanIntrospection.ruleTrace(s, probe)
    },
    None)

  /** Required-vs-provided plan properties
    * ([[graft.api.PlanIntrospection.properties]]) — the reference's
    * `sys_memo_property` analog (required/provided ordering+distribution
    * per group, `optimizer.cs:1239-1328`), on a probe whose shuffle
    * requirement is guaranteed (a key-grouped aggregate over a join):
    * the `planned` phase must expose an UNSATISFIED ClusteredDistribution
    * row (that's where EnsureRequirements inserts the exchange) and the
    * `final` phase shows it met. Engine-specific by nature → oracle-less;
    * semantics asserted by PlanIntrospectionSpec.
    */
  val sysPlanProperties: QueryDef = QueryDef("sys_plan_properties",
    (s, dir) => {
      Tables.registerAll(s, dir)
      val probe = s.sql(
        """SELECT c_nationkey, COUNT(*) AS c, SUM(c_acctbal) AS bal
          |FROM customer JOIN nation ON c_nationkey = n_nationkey
          |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin)
      graft.api.PlanIntrospection.properties(s, probe)
        .orderBy("phase", "ord", "child")
    },
    None)

  /** DataFrame DSL façade (reference DataSet stmt.cs:957-1034): the same
    * query built through Read/filter/join/select, verified against plain
    * SQL.
    */
  val dsl: QueryDef = QueryDef("dsl_read_filter_join",
    (s, dir) => {
      val ctx = new GraftContext(s, dir)
      ctx.read("customer")
        .filter("c_acctbal > 9000")
        .join(ctx.read("nation"), "c_nationkey = n_nationkey")
        .select("n_name", "c_custkey", "c_acctbal")
        .toDF
    },
    Some("""SELECT n_name, c_custkey, c_acctbal
           |FROM customer JOIN nation ON c_nationkey = n_nationkey
           |WHERE c_acctbal > 9000""".stripMargin))

  /** DSL aggregation path. */
  val dslAgg: QueryDef = QueryDef("dsl_group_agg",
    (s, dir) => {
      val ctx = new GraftContext(s, dir)
      ctx.read("orders")
        .filter("o_orderstatus = 'F'")
        .groupBy("o_orderpriority",
          "COUNT(*) AS cnt",
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS tot")
        .toDF
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS cnt, ${dsum("o_totalprice")} AS tot
            |FROM orders WHERE o_orderstatus = 'F'
            |GROUP BY o_orderpriority""".stripMargin))

  /** DSL ordering + limit verbs (deterministic: unique-key tiebreak). */
  val dslTopk: QueryDef = QueryDef("dsl_topk",
    (s, dir) => {
      val ctx = new GraftContext(s, dir)
      ctx.read("supplier")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_acctbal DESC", "s_suppkey")
        .limit(10)
        .toDF
    },
    Some("""SELECT s_suppkey, s_name, s_acctbal FROM supplier
           |ORDER BY s_acctbal DESC, s_suppkey LIMIT 10""".stripMargin))

  /** Two-argument UDF registration (reference Register<T1,T2,R>,
    * ExprFunc.cs:42-76).
    */
  val udfTwoArg: QueryDef = QueryDef("udf_two_arg",
    (s, dir) => {
      val ctx = new GraftContext(s, dir)
      ctx.register2("addmul", (a: Double, b: Double) => a * b + 1.0)
      ctx.sql("""SELECT l_orderkey, l_linenumber,
                |  addmul(l_quantity, l_discount) AS am
                |FROM lineitem WHERE l_orderkey <= 100""".stripMargin)
    },
    Some("""SELECT l_orderkey, l_linenumber,
           |  l_quantity * l_discount + 1.0 AS am
           |FROM lineitem WHERE l_orderkey <= 100""".stripMargin))

  /** Three-argument UDF registration — the reference's max scalar-UDF
    * arity (Register<T1,T2,T3,TResult>, ExprFunc.cs:42-76). Integer
    * domain end-to-end, so Spark and DuckDB agree bit-for-bit.
    */
  val udfThreeArg: QueryDef = QueryDef("udf_three_arg",
    (s, dir) => {
      val ctx = new GraftContext(s, dir)
      ctx.register3("clamp3",
        (x: Long, lo: Long, hi: Long) => math.max(lo, math.min(hi, x)))
      ctx.sql("""SELECT o_orderkey,
                |  clamp3(o_custkey, 100L, 1000L) AS ck
                |FROM orders WHERE o_orderkey <= 200""".stripMargin)
    },
    Some("""SELECT o_orderkey,
           |  GREATEST(100, LEAST(1000, o_custkey)) AS ck
           |FROM orders WHERE o_orderkey <= 200""".stripMargin))

  /** Scalar UDF registration (reference README sqroot example,
    * ExprFunc.cs:42-76). sqrt is IEEE-exact, so results match DuckDB's
    * sqrt bit-for-bit.
    */
  val udfSqroot: QueryDef = QueryDef("udf_sqroot",
    (s, dir) => {
      val ctx = new GraftContext(s, dir)
      ctx.register1("sqroot", (x: Double) => math.sqrt(x))
      ctx.sql("""SELECT c_custkey, sqroot(c_acctbal) AS sr
                |FROM customer WHERE c_custkey <= 100 AND c_acctbal > 0""".stripMargin)
    },
    Some("""SELECT c_custkey, sqrt(c_acctbal) AS sr
           |FROM customer WHERE c_custkey <= 100 AND c_acctbal > 0""".stripMargin))

  /** Native Catalyst expression through the SQL registry — vec_dot is
    * injected by GraftExtensions (spark.sql.extensions), exercising the
    * extension point end-to-end from SQL text.
    */
  val udfVecDot: QueryDef = QueryDef("udf_vec_dot",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT vec_id, vec_dot(embedding, embedding) AS sq_norm
              |FROM embeddings WHERE vec_id <= 50""".stripMargin)
    },
    Some("""SELECT vec_id, list_dot_product(embedding, embedding) AS sq_norm
           |FROM embeddings WHERE vec_id <= 50""".stripMargin))

  /** Unbounded stream scan + tumbling window, run to completion with
    * Trigger.AvailableNow (reference stream scan is a stub,
    * Stream.cs:183-194 — this one executes).
    */
  val streamTumble: QueryDef = QueryDef("stream_tumble",
    (s, dir) => graft.streaming.Streams.tumbleAvailableNow(s, dir),
    Some(s"""SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start,
            |  COUNT(*) AS cnt, ${dsum("value")} AS sum_v
            |FROM events GROUP BY 1""".stripMargin))

  /** Same streaming aggregate through the production sink path: a real
    * parquet directory written by foreachBatch, re-read, verified against
    * the identical oracle — files on disk, not a driver-side memory
    * table.
    */
  val streamTumbleParquet: QueryDef = QueryDef("stream_tumble_parquet",
    (s, dir) => graft.streaming.Streams.tumbleToParquet(s, dir),
    Some(s"""SELECT time_bucket(INTERVAL '6 hours', ts) AS w_start,
            |  COUNT(*) AS cnt, ${dsum("value")} AS sum_v
            |FROM events GROUP BY 1""".stripMargin))

  /** Stream–static dim enrichment join executed as a real streaming
    * query (AvailableNow), verified against the batch join+aggregate.
    */
  val streamStaticEnrich: QueryDef = QueryDef("stream_static_enrich",
    (s, dir) => graft.streaming.Streams.enrichByNationAvailableNow(s, dir),
    Some(s"""SELECT c_nationkey, COUNT(*) AS cnt, ${dsum("value")} AS sum_v
            |FROM events JOIN customer ON user_id = c_custkey
            |GROUP BY c_nationkey""".stripMargin))

  /** Small-file compaction round-trip: documents scattered into 64 tiny
    * files, compacted back to target-sized ones; the verified contract
    * is row preservation + actual file-count reduction (absolute file
    * counts depend on bytes per SF, so the gate sees the booleans).
    */
  val compactFiles: QueryDef = QueryDef("maintenance_compact",
    (s, dir) => {
      val tiny = java.nio.file.Files
        .createTempDirectory("graft_tiny").toString
      val out = java.nio.file.Files
        .createTempDirectory("graft_compacted").toString
      // Both counts run eagerly and the result is a local frame, so
      // the scratch dirs go before returning.
      try {
        val docs = Tables.load(s, dir, "documents")
        docs.repartition(64).write.mode("overwrite").parquet(tiny)
        val nOut = graft.operators.Maintenance.compact(s, tiny, out)
        val nIn = docs.count()
        val nAfter = s.read.parquet(out).count()
        import s.implicits._
        Seq((nIn == nAfter, nOut < 64)).toDF("rows_preserved", "fewer_files")
      } finally Seq(tiny, out).foreach(graft.GraftSession.removeDir)
    },
    Some("SELECT TRUE AS rows_preserved, TRUE AS fewer_files"))

  /** Partitioned-table write + partition-pruned read: the storage layout
    * that makes selective scans at 100 TB touch one directory instead of
    * the table. PlanShapeSpec asserts the pruning.
    */
  val ddlPartitioned: QueryDef = QueryDef("ddl_partitioned_prune",
    (s, dir) => {
      Tables.registerAll(s, dir)
      dropTableAndLocation(s, "orders_part")
      s.sql("""CREATE TABLE orders_part USING PARQUET
              |PARTITIONED BY (o_orderstatus)
              |AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
              |FROM orders""".stripMargin)
      s.sql(s"""SELECT COUNT(*) AS cnt, ${dsum("o_totalprice")} AS tot
               |FROM orders_part WHERE o_orderstatus = 'F'""".stripMargin)
    },
    Some(s"""SELECT COUNT(*) AS cnt, ${dsum("o_totalprice")} AS tot
            |FROM orders WHERE o_orderstatus = 'F'""".stripMargin))

  /** CREATE TEMPORARY VIEW DDL surface + query-through-view. */
  val ddlTempView: QueryDef = QueryDef("ddl_temp_view",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""CREATE OR REPLACE TEMPORARY VIEW big_cust AS
              |SELECT c_custkey, c_nationkey, c_acctbal
              |FROM customer WHERE c_acctbal > 8000""".stripMargin)
      s.sql(s"""SELECT c_nationkey, COUNT(*) AS cnt, ${dsum("c_acctbal")} AS bal
               |FROM big_cust GROUP BY c_nationkey""".stripMargin)
    },
    Some(s"""SELECT c_nationkey, COUNT(*) AS cnt, ${dsum("c_acctbal")} AS bal
            |FROM customer WHERE c_acctbal > 8000
            |GROUP BY c_nationkey""".stripMargin))

  /** Column-group extended statistics driving a REAL plan change
    * ([[graft.catalog.ExtendedStats]] + the
    * [[graft.plans.ColumnGroupCertifiedBroadcast]] optimizer rule):
    * Spark prices the correlated (l_partkey, l_suppkey) self-join with
    * the minimum per-key containment estimate (~30× over at this SF),
    * denying the broadcast of its output into the downstream join; the
    * registered F2 moment certifies via Cauchy–Schwarz that the true
    * output fits, and the rule flips the static plan to a broadcast
    * join. The gate row proves the certified plan is result-identical
    * to the oracle; the plan flip itself is asserted in
    * ColumnGroupGuardSpec.
    */
  val colgroupBroadcast: QueryDef = QueryDef("colgroup_certified_broadcast",
    (s, dir) => {
      dropTableAndLocation(s, "gcg_li")
      s.sql(s"""CREATE TABLE gcg_li USING PARQUET AS
               |SELECT l_orderkey, l_partkey, l_suppkey
               |FROM parquet.`$dir/lineitem.parquet`""".stripMargin)
      s.sql("ANALYZE TABLE gcg_li COMPUTE STATISTICS FOR ALL COLUMNS")
      graft.catalog.ExtendedStats.analyzeColumnGroup(
        s, "gcg_li", Seq("l_partkey", "l_suppkey"))
      s.sql("""SELECT w.l_orderkey, count(p.l_orderkey) AS pair_cnt
              |FROM gcg_li w LEFT JOIN
              |     (SELECT a.l_orderkey
              |      FROM gcg_li a JOIN gcg_li b
              |        ON a.l_partkey = b.l_partkey
              |       AND a.l_suppkey = b.l_suppkey) p
              |  ON p.l_orderkey = w.l_orderkey
              |GROUP BY w.l_orderkey""".stripMargin)
    },
    Some("""SELECT w.l_orderkey, count(p.l_orderkey) AS pair_cnt
           |FROM lineitem w LEFT JOIN
           |     (SELECT a.l_orderkey
           |      FROM lineitem a JOIN lineitem b
           |        ON a.l_partkey = b.l_partkey
           |       AND a.l_suppkey = b.l_suppkey) p
           |  ON p.l_orderkey = w.l_orderkey
           |GROUP BY w.l_orderkey""".stripMargin))

  /** HAVING on a global aggregate (no GROUP BY) — NIST-style edge. */
  val havingNoGroupBy: QueryDef = QueryDef.sameSql("having_no_groupby",
    """SELECT COUNT(*) AS c, MIN(o_orderkey) AS mn FROM orders
      |HAVING COUNT(*) > 10 AND MAX(o_totalprice) > 0""".stripMargin)

  val defs: Seq[QueryDef] = Seq(
    copyCsv, ddlInsert, analyze, analyzeExtended, statsInject,
    colgroupBroadcast,
    dsl, dslAgg, dslTopk, udfSqroot,
    udfTwoArg, udfThreeArg, udfVecDot, streamTumble, streamTumbleParquet,
    streamStaticEnrich, compactFiles,
    ddlPartitioned, ddlTempView,
    havingNoGroupBy)
}

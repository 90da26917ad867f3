package graft.queries

import graft.QueryDef
import graft.QueryDef.{sameSql, sqlDef}
import graft.catalog.Tables

/** Fourth coverage wave: higher-order functions, regex, arrays,
  * null-safe equality, recursive CTEs, bucketed storage — surface a
  * production Spark engine exposes beyond the reference's §2.7 set,
  * each DuckDB-oracle-verified (dialect-mapped where names differ).
  */
object ExtraQueries {

  /** Higher-order functions over arrays: transform / filter / exists /
    * aggregate (DuckDB: list_transform / list_filter / list_sum with
    * 1-based subscripts).
    */
  val hof: QueryDef = sqlDef("expr_hof",
    """SELECT n_nationkey,
      |  ARRAY_JOIN(TRANSFORM(SEQUENCE(1, 4), x -> CAST(x * n_nationkey AS STRING)), ',') AS mults,
      |  SIZE(FILTER(SEQUENCE(1, 10), x -> x % (n_nationkey + 2) = 0)) AS n_div,
      |  AGGREGATE(SEQUENCE(1, 10), 0, (acc, x) -> acc + x * n_nationkey) AS wsum,
      |  EXISTS(SEQUENCE(1, 5), x -> x * x = n_nationkey) AS has_sqrt
      |FROM nation""".stripMargin,
    """SELECT n_nationkey,
      |  array_to_string(list_transform(generate_series(1, 4),
      |    x -> CAST(x * n_nationkey AS VARCHAR)), ',') AS mults,
      |  len(list_filter(generate_series(1, 10),
      |    x -> x % (n_nationkey + 2) = 0)) AS n_div,
      |  CAST(coalesce(list_sum(list_transform(generate_series(1, 10),
      |    x -> x * n_nationkey)), 0) AS BIGINT) AS wsum,
      |  len(list_filter(generate_series(1, 5),
      |    x -> x * x = n_nationkey)) > 0 AS has_sqrt
      |FROM nation""".stripMargin)

  /** Regex battery: extract / replace / match (DuckDB names differ;
    * semantics of these patterns agree).
    */
  val regex: QueryDef = sqlDef("expr_regex",
    """SELECT p_partkey,
      |  REGEXP_EXTRACT(p_brand, '([0-9]+)', 1) AS brand_num,
      |  REGEXP_REPLACE(p_name, '[aeiou]', '_') AS devoweled,
      |  p_type RLIKE '^(PRO|STA)' AS pro_or_sta
      |FROM part WHERE p_partkey <= 200""".stripMargin,
    """SELECT p_partkey,
      |  regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
      |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
      |  regexp_matches(p_type, '^(PRO|STA)') AS pro_or_sta
      |FROM part WHERE p_partkey <= 200""".stripMargin)

  /** Array construction/manipulation battery (DuckDB list functions;
    * both engines 1-based for element access here).
    */
  val arrays: QueryDef = sqlDef("expr_array",
    """SELECT n_nationkey,
      |  ARRAY_JOIN(SLICE(SEQUENCE(0, 9), 2, 3), '-') AS sl,
      |  ARRAY_JOIN(REVERSE(SEQUENCE(1, n_regionkey + 1)), ',') AS rev,
      |  ARRAY_MAX(ARRAY(n_nationkey, n_regionkey, 7)) AS mx,
      |  ARRAY_POSITION(SEQUENCE(10, 50, 10), 30) AS pos,
      |  ARRAY_CONTAINS(SEQUENCE(0, 4), n_regionkey) AS has_rk,
      |  ARRAY_JOIN(FLATTEN(ARRAY(SEQUENCE(1, 2), SEQUENCE(8, 9))), ',') AS flat
      |FROM nation""".stripMargin,
    """SELECT n_nationkey,
      |  array_to_string(list_slice(generate_series(0, 9), 2, 4), '-') AS sl,
      |  array_to_string(list_reverse(generate_series(1, n_regionkey + 1)), ',') AS rev,
      |  CAST(list_max([n_nationkey, n_regionkey, 7]) AS BIGINT) AS mx,
      |  CAST(list_position(generate_series(10, 50, 10), 30) AS BIGINT) AS pos,
      |  list_contains(generate_series(0, 4), n_regionkey) AS has_rk,
      |  array_to_string(flatten([generate_series(1, 2), generate_series(8, 9)]), ',') AS flat
      |FROM nation""".stripMargin)

  /** Null-safe equality: Spark `<=>` ≡ standard IS NOT DISTINCT FROM. */
  val nullSafeEq: QueryDef = sqlDef("conformance_nullsafe_eq",
    """SELECT
      |  (NULL <=> NULL) AS nn,
      |  (NULL <=> 1) AS n1,
      |  (1 <=> 1) AS ee,
      |  (1 <=> 2) AS ne""".stripMargin,
    """SELECT
      |  (NULL IS NOT DISTINCT FROM NULL) AS nn,
      |  (NULL IS NOT DISTINCT FROM 1) AS n1,
      |  (1 IS NOT DISTINCT FROM 1) AS ee,
      |  (1 IS NOT DISTINCT FROM 2) AS ne""".stripMargin)

  /** Recursive CTE (Spark 4 WITH RECURSIVE): transitive closure over a
    * generated sequence joined back to a table — identical syntax in
    * DuckDB.
    */
  val recursiveCte: QueryDef = sameSql("cte_recursive",
    """WITH RECURSIVE seq(n) AS (
      |  SELECT 0
      |  UNION ALL
      |  SELECT n + 1 FROM seq WHERE n < 9
      |)
      |SELECT s.n, COUNT(n_nationkey) AS n_nations
      |FROM seq s LEFT JOIN nation ON n_regionkey = s.n
      |GROUP BY s.n""".stripMargin)

  /** Bucketed storage: write orders bucketed by custkey, read through
    * the catalog, aggregate — the co-located-join storage layout
    * (DistributionSpec proves the zero-exchange join; this proves the
    * round-trip preserves content).
    */
  val bucketed: QueryDef = QueryDef("ddl_bucketed",
    (s, dir) => {
      Tables.registerAll(s, dir)
      SourceSinkQueries.dropTableAndLocation(s, "orders_bucketed")
      s.table("orders")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .format("parquet").saveAsTable("orders_bucketed")
      s.sql("""SELECT o_orderpriority, COUNT(*) AS n,
              |  COUNT(DISTINCT o_custkey) AS n_cust
              |FROM orders_bucketed GROUP BY o_orderpriority""".stripMargin)
    },
    Some("""SELECT o_orderpriority, COUNT(*) AS n,
           |  COUNT(DISTINCT o_custkey) AS n_cust
           |FROM orders GROUP BY o_orderpriority""".stripMargin))

  /** TABLESAMPLE with an explicit seed: deterministic-contract check
    * like sample_scan (the sampled rows are engine-specific; the
    * verified output is the invariant: sampled ⊆ table, fraction sane).
    */
  val sampleBernoulli: QueryDef = QueryDef("sample_bernoulli",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT (COUNT(*) BETWEEN 1 AND MIN(o_total)) AS frac_sane,
              |       (COUNT(*) = COUNT(DISTINCT o_orderkey)) AS no_dups
              |FROM (SELECT o_orderkey FROM orders TABLESAMPLE (10 PERCENT)
              |      REPEATABLE (42)),
              |     (SELECT COUNT(*) AS o_total FROM orders)""".stripMargin)
    },
    Some("SELECT TRUE AS frac_sane, TRUE AS no_dups"))

  /** Approximate percentile (t-digest-style sketch) sanity gate: the
    * estimate must land within 2% of the exact interpolated percentile
    * (rank error 1/1000 at this accuracy). Like approx_distinct_sanity,
    * the verified output is the bound check — the sketch value itself is
    * engine-specific.
    */
  val approxPercentile: QueryDef = QueryDef("approx_percentile_sanity",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.sql("""SELECT
              |  ABS(APPROX_PERCENTILE(l_extendedprice, 0.5, 1000) -
              |      PERCENTILE(l_extendedprice, 0.5)) <=
              |    0.02 * PERCENTILE(l_extendedprice, 0.5) AS within_2pct
              |FROM lineitem""".stripMargin)
    },
    Some("SELECT TRUE AS within_2pct"))

  val defs: Seq[QueryDef] = Seq(
    hof, regex, arrays, nullSafeEq, recursiveCte, bucketed,
    sampleBernoulli, approxPercentile)
}

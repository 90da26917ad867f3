package graft.queries

/** SQL fragments shared by the corpus.
  *
  * Cross-engine determinism rules (see QueryDef scaladoc): double sums go
  * through an exact DECIMAL cast so Spark's parallel, partial-agg sum and
  * DuckDB's serial sum produce bit-identical results regardless of
  * accumulation order. The testdata doubles carry at most 2 decimal
  * places, so `DECIMAL(18,4)` casts are exact (no rounding at all);
  * products of two such values fit `DECIMAL(18,6)` after one rounding
  * step that both engines perform identically on the same IEEE double.
  */
object Sql {
  /** Order-independent exact sum of a double expression.
    *
    * Three exact encodings, picked by scale (q := ROUND(x*10^s) is the
    * same nearest-integer, half away from zero, in both engines on the
    * same IEEE double; all-BIGINT sums are primitive codegen, measured
    * 2.2× faster than DECIMAL aggregation buffers at sf0.1):
    *
    *  - scale <= 4: single-limb SUM(q). Safe while rows/group × max|x|
    *    × 10^s < 2^63 — ~9e9 rows per group for x ~ 1e5 at scale 4.
    *  - scale 5..6: two-limb — q is split as hi = (q - q%f)/f (exact:
    *    q - q%f is a multiple of f <= 2^53, so the double division is
    *    an exact integer) and lo = q%f, each summed as BIGINT. |lo| <
    *    10^s bounds the lo sum to ~9e12 rows/group at scale 6; hi is
    *    bounded by |x| — 100 TB-fact-table safe. The reconstruction
    *    SUM(hi) + SUM(lo)/f rounds identically in both engines.
    *  - scale > 6: DECIMAL(18,s) casts (no practical row bound; Spark's
    *    non-ANSI long sum would wrap silently where DuckDB widens to
    *    int128). The corpus never needs it: products of 2-decimal
    *    inputs are exact at scale 6.
    *
    * CAST-to-DOUBLE before dividing everywhere: Spark types
    * `BIGINT / 10000.0` as DECIMAL while DuckDB types it DOUBLE — the
    * raw-value hash gate sees Decimal-vs-float and fails. DOUBLE / INT
    * is DOUBLE in both.
    */
  def dsum(expr: String, scale: Int = 4): String =
    if (scale <= 4) {
      val f = math.pow(10, scale).toLong
      s"(CAST(SUM(CAST(ROUND(($expr) * $f) AS BIGINT)) AS DOUBLE) / $f)"
    } else if (scale <= 6) {
      val f = math.pow(10, scale).toLong
      val q = s"CAST(ROUND(($expr) * $f) AS BIGINT)"
      val lo = s"$q % $f"
      val hi = s"CAST((CAST($q AS DOUBLE) - CAST($lo AS DOUBLE)) / $f AS BIGINT)"
      s"(CAST(SUM($hi) AS DOUBLE) + CAST(SUM($lo) AS DOUBLE) / $f)"
    } else
      s"CAST(SUM(CAST($expr AS DECIMAL(18,$scale))) AS DOUBLE)"

  /** Order-independent average (exact sum / count). */
  def davg(expr: String, scale: Int = 4): String =
    s"${dsum(expr, scale)} / COUNT($expr)"

  /** Raw scaled-BIGINT exact sum — the quantized integer itself, not yet
    * divided back to a double. For TPC-DS-style queries that feed an
    * aggregate into a WINDOW over the groups (ratio-to-parent, rank by
    * sum, running sum of sums): keeping the window arithmetic on BIGINT
    * makes the two aggregation levels exact and order-independent in both
    * engines; only the final displayed value divides back to DOUBLE.
    * Single-limb: safe while rows/group × max|x| × 10^s < 2^63 (see dsum).
    */
  def qsum(expr: String, scale: Int = 2): String = {
    val f = math.pow(10, scale).toLong
    s"SUM(CAST(ROUND(($expr) * $f) AS BIGINT))"
  }

  /** Divide a scaled-BIGINT back to its double value. */
  def unscale(expr: String, scale: Int = 2): String = {
    val f = math.pow(10, scale).toLong
    s"(CAST($expr AS DOUBLE) / $f)"
  }

  /** DuckDB mirror of vec.quantize: integral 2^-20 grid as exact doubles.
    * Dot products over quantized vectors are exact integer sums —
    * order-independent and bit-identical to the Spark side's VecDot.
    */
  def duckQuant(list: String): String =
    s"list_transform($list, x -> round(CAST(x AS DOUBLE) * 1048576))"

  // Zero-vector guard mirrors VecCosineQ: cosine against a vector that
  // quantizes to all zeros is defined as 0.0 (DuckDB's 0/0 is NULL or NaN
  // depending on ieee_floating_point_ops — either diverges from the gate).
  private val duckCos =
    ("CASE WHEN list_dot_product(%3$s, %4$s) * list_dot_product(%5$s, %6$s) = 0 THEN 0.0 " +
     "ELSE list_dot_product(%1$s, %2$s) / (sqrt(list_dot_product(%3$s, %4$s)) * sqrt(list_dot_product(%5$s, %6$s))) END")

  /** Guarded cosine of two quantized DuckDB lists `a` and `b`. */
  def cosOf(a: String, b: String): String = duckCos.format(a, b, a, a, b, b)

  /** The k-means seed rule over the quantized `(vec_id, qe)` CTE named
    * `src`: CTE `seeds(cid, ce)`, the `k` smallest vec_ids, cid = vec_id.
    */
  def duckSeedsCte(src: String, k: Int): String =
    s"""seeds AS (SELECT CAST(vec_id AS INT) AS cid, qe AS ce FROM $src
       |          WHERE vec_id < $k)""".stripMargin

  /** The centroid ranking of every k-means / IVF oracle: CTE `name`
    * crosses each row `a` of the quantized `(id, qe)` CTE `src` with
    * each centroid `s` of the `(cid, ce)` CTE `cents`, keeps the
    * `cols` selected over those aliases, and adds `rn`, the centroid's
    * rank for that row by cosine, ties to the smaller cid. `rn = 1` is
    * the assignment (argmax cosine); `rn <= nprobe` are the probes.
    */
  def duckRankedCentroids(name: String, cols: String, src: String,
                          cents: String, id: String = "vec_id"): String =
    s"""$name AS (SELECT $cols,
       |         row_number() OVER (PARTITION BY a.$id
       |           ORDER BY ${cosOf("a.qe", "s.ce")} DESC, s.cid) AS rn
       |       FROM $src a CROSS JOIN $cents s)""".stripMargin

  /** DuckDB mirror of Similarity's seeded k-means over the quantized
    * `(vec_id, qe)` CTE named `src`: CTEs `seeds` ([[duckSeedsCte]]),
    * `a1`/`asg1` (argmax cosine, ties to the smaller cid) and `cent`
    * (one Lloyd step: floor of the per-dim mean back onto the integer
    * grid). Every comparison runs over exact integral doubles, so
    * assignments and centroids are bit-identical to the Spark side.
    */
  def duckKmeansCtes(src: String, k: Int): String =
    s"""${duckSeedsCte(src, k)},
       |${duckRankedCentroids("a1", "a.vec_id, a.qe, s.cid", src, "seeds")},
       |asg1 AS (SELECT vec_id, qe, cid FROM a1 WHERE rn = 1),
       |cent AS (SELECT cid, list(fd ORDER BY d) AS ce FROM (
       |           SELECT cid, d, FLOOR(SUM(qe[d]) / COUNT(*)) AS fd
       |           FROM asg1, (SELECT unnest(generate_series(1, 64)) AS d) dims
       |           GROUP BY cid, d) GROUP BY cid)""".stripMargin

  /** The IVF probe rule: every query of the `(q_id, qe)` CTE named
    * `queries` probes the `nprobe` centroids of the `(cid, ce)` CTE
    * named `cents` nearest by cosine, ties to the smaller cid. CTE
    * `probes(q_id, q_emb, cid, qdot)`, qdot = dot(query, centroid) —
    * the offset a residual index adds back into its score.
    */
  def duckProbeCtes(queries: String, cents: String, nprobe: Int): String =
    s"""${duckRankedCentroids("pr",
         "a.q_id, a.qe AS q_emb, s.cid, list_dot_product(a.qe, s.ce) AS qdot",
         queries, cents, id = "q_id")},
       |probes AS (SELECT q_id, q_emb, cid, qdot FROM pr WHERE rn <= $nprobe)""".stripMargin
}

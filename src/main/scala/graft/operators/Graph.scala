package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational graph analytics over co-occurrence graphs — the
  * SQL-on-Spark counterpart of the "items bought together" /
  * "documents sharing a shingle" graphs a data pipeline keeps running
  * into. Everything is plain DataFrame joins and aggregations (no
  * GraphX/RDDs), so Catalyst/AQE own the physical plan and the shapes
  * survive a 1000-executor cluster.
  */
object Graph {

  /** The family's lazy local checkpoint. Lazy (optimization r15, measured
    * faster than eager and re-verified in OPTIMIZATION_r16.md) skips the
    * dedicated materialization job and the extra row pass per checkpoint
    * — blocks persist during the first consuming stage; the
    * guaranteed-once contract is identical either way.
    */
  private def ckpt(df: DataFrame): DataFrame = df.localCheckpoint(eager = false)

  /** Undirected co-occurrence edge list: one (a < b) edge per pair of
    * distinct `item`s sharing a `group`. One shuffle on group to gather
    * co-members, one distinct on (a, b). Groups are order-sized (a
    * handful of items), so the within-group pair expansion is a small
    * constant factor, not a quadratic blow-up — the same bounded-group
    * reasoning as the LSH band buckets in [[Dedup]].
    */
  def coOccurrenceEdges(df: DataFrame, group: String, item: String): DataFrame = {
    val m = df.select(col(group).as("g"), col(item).as("a")).distinct()
    // shuffle_hash: both sides are corpus-sized (no broadcast candidate)
    // and hash join skips the two corpus sorts SMJ would pay.
    m.hint("shuffle_hash")
      .join(m.select(col("g"), col("a").as("b")), "g")
      .where(col("a") < col("b"))
      .select("a", "b").distinct()
  }

  /** Exact triangle count by degree-ordered edge orientation — the
    * classic "compact-forward" scheme. Orienting every edge from the
    * endpoint that is smaller in the total order (degree, id) toward the
    * larger makes each node's out-degree O(sqrt(|E|)), so the wedge join
    * (the quadratic step) is sum-of-out-degree² — orders of magnitude
    * below the naive sum-of-degree² on skewed graphs, where one hub node
    * of degree d contributes d² wedges. Each triangle is counted exactly
    * once: its three nodes have a unique (degree, id) ordering u < v < w,
    * and only the wedge v←u→w with closing edge v→w fires.
    *
    * Plan shape: degrees = one groupBy over the (exploded) edge list,
    * equi-joined back onto both endpoints (node-sized frame — AQE
    * broadcasts it when small, shuffles when the graph is billion-node;
    * no explicit hint, so both regimes get the right plan). The total
    * order is the (deg, node) STRUCT itself — no global rank, so no
    * single-partition window anywhere. The count is the edge-iterator
    * form: out-adjacency arrays per node (array length O(sqrt E) by the
    * orientation), joined onto both endpoints of every oriented edge,
    * and triangles(e=(u,v)) = |N+(u) ∩ N+(v)| via a codegen'd
    * array_intersect. The super-linear wedge term thus lives INSIDE a
    * narrow per-row expression — the wedge set is never materialized,
    * shuffled, sorted, or grouped (an explicit wedge self-join was
    * measured 8× slower at 1.2M edges: the 1e8-row wedge exchange is
    * the entire cost). Shuffle volume is sum-of-out-degree² bytes of
    * adjacency copies, rows stay edge-bounded. No cartesians, nothing
    * driver-side.
    *
    * Input must be an (a < b) deduplicated undirected edge list, e.g.
    * from [[coOccurrenceEdges]]. Returns a 1-row (triangles: long) frame.
    */
  def triangleCount(edges: DataFrame): DataFrame =
    edgeTriangles(ckpt(edges))
      .select(size(col("tri_nbrs")).as("n"))
      .agg(coalesce(sum(col("n").cast("long")), lit(0L)).as("triangles"))

  /** Per-edge triangle closure: each oriented edge (u, v) with the array
    * of nodes `tri_nbrs` = N+(u) ∩ N+(v) that close a triangle over it —
    * the shared kernel of [[triangleCount]] and [[perNodeTriangles]].
    * See [[triangleCount]] for the plan-shape rationale.
    */
  private def edgeTriangles(edges: DataFrame): DataFrame = {
    // Callers pass a CHECKPOINTED edge list (localCheckpoint at each
    // public entry point): the edge list feeds the degree pass AND the
    // orientation join, and the oriented list feeds the adjacency build
    // AND the probe side. LAZY since optimization r15: eager=true paid a
    // dedicated materialization job (plus one extra pass over the rows)
    // per checkpoint; eager=false persists the same blocks during the
    // first consuming stage — measured 2.53 -> 1.89 s min-of-7 at sf0.1
    // for graph_triangles, plan and results identical. Earlier rounds leaned on ReuseExchange to
    // dedup that physical work; the r12 re-measure (sf0.1, 1.2M-edge
    // co-occurrence graph) found the checkpointed form at wall-clock
    // PARITY while collapsing the executed plan from 92 exchanges /
    // 30 upstream-scan replicas to 5 exchanges / 3 scans — on a
    // cluster, a guarantee of computing the co-occurrence pipeline
    // once beats a reuse heuristic that silently degrades to N
    // recomputations when canonicalization misses. The checkpoint
    // payload is 2 longs per edge — the cheapest frame in the family.
    val deg = edges
      // one pass over the edge list (explode) instead of a two-arm
      // union — halves the degree stage's input volume
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.withColumnRenamed("node", "a")
        .withColumnRenamed("deg", "deg_a"), "a")
      .join(deg.withColumnRenamed("node", "b")
        .withColumnRenamed("deg", "deg_b"), "b")
      .select(struct(col("deg_a").as("deg"), col("a").as("node")).as("oa"),
        struct(col("deg_b").as("deg"), col("b").as("node")).as("ob"))
    // (deg, node) struct comparison is lexicographic; node ids are
    // unique, so the order is strict and orientation well-defined.
    // Struct order decides the direction; the carried edge is plain
    // node ids (primitive-long adjacency arrays, codegen'd intersect —
    // struct payloads here were measured 3× slower and 4× fatter).
    val oriented = ckpt(withDeg.select(
      when(col("oa") < col("ob"), col("oa")("node"))
        .otherwise(col("ob")("node")).as("u"),
      when(col("oa") < col("ob"), col("ob")("node"))
        .otherwise(col("oa")("node")).as("v")))
    // (oriented is consumed twice — adjacency build + probe stream; same
    // guaranteed-once rationale as the edge checkpoint above)
    // Adjacency ENCODING (r14): the wedge exchange ships every probing
    // edge a copy of its endpoint's out-adjacency — Σ out-deg² values,
    // the family's inherent shuffle volume and the 100× single-box wall
    // (27 GB at sf10). Tungsten's array<long> spends 8 B + header per
    // neighbor; sorted ids delta-varint to 1–3 B, so the packed BINARY
    // form (graft.functions.PackedAdjacency, native codegen'd pack /
    // merge-walk intersect) carries the same wedges in a fraction of
    // the bytes (measured at the 100× soak — see BASELINE.md).
    val adj = oriented.groupBy("u").agg(collect_list("v").as("nbrs"))
      .select(col("u"),
        graft.functions.PackedAdjacencyColumns.packVarint(col("nbrs"))
          .as("nbrs"))
    // Inner joins are exact: adj(u) exists by construction (u sources
    // this edge); a missing adj(v) means N+(v) = ∅, contribution 0 —
    // dropping the row counts the same. shuffle_hash builds the
    // node-sized adj side, the edge stream only probes.
    oriented
      .join(adj.hint("shuffle_hash")
        .withColumnRenamed("u", "__ku").withColumnRenamed("nbrs", "nu"),
        col("u") === col("__ku"))
      .join(adj.hint("shuffle_hash")
        .withColumnRenamed("u", "__kv").withColumnRenamed("nbrs", "nv"),
        col("v") === col("__kv"))
      .select(col("u"), col("v"),
        graft.functions.PackedAdjacencyColumns
          .packedIntersect(col("nu"), col("nv")).as("tri_nbrs"))
  }

  /** Per-node triangle participation: how many triangles each node sits
    * in. From the per-edge closure arrays, node contributions are u and
    * v (one per closing neighbor) plus each closing neighbor w (one per
    * edge it closes); every triangle is counted exactly once per corner.
    * The explode is TRIANGLE-bounded (3 rows per triangle), not
    * wedge-bounded — the distinction that keeps the plan scale-safe.
    * Returns (node, n_tri > 0).
    */
  def perNodeTriangles(edges: DataFrame): DataFrame =
    perNodeTrianglesOn(ckpt(edges))

  /** [[perNodeTriangles]] over an already-checkpointed edge list —
    * lets [[clusteringCoeffTopK]] share ONE checkpoint across the
    * triangle and degree passes.
    */
  private def perNodeTrianglesOn(edges: DataFrame): DataFrame = {
    // All three corners come out of ONE pass over the closure rows (a
    // single explode of [u×n, v×n, w×1…]): consuming the closure frame
    // twice would either recompute its joins or force a checkpoint of
    // fat array rows — both measured slower at 12M edges.
    val n = size(col("tri_nbrs")).cast("long")
    edgeTriangles(edges).filter(size(col("tri_nbrs")) > 0)
      .select(explode(concat(
        array(struct(col("u").as("node"), n.as("n")),
          struct(col("v").as("node"), n.as("n"))),
        transform(col("tri_nbrs"),
          w => struct(w.as("node"), lit(1L).as("n"))))).as("c"))
      .select(col("c.node").as("node"), col("c.n").as("n"))
      .groupBy("node").agg(sum("n").as("n_tri"))
  }

  /** Local clustering coefficient top-k: for each node with degree > 1,
    * coeff = 2·triangles / (deg·(deg−1)) — the classic "how clique-like
    * is this node's neighborhood" feature. Deterministic total order
    * (n_tri desc, node); the division is one IEEE op on exact integers,
    * so the doubles are bit-identical in any engine.
    */
  def clusteringCoeffTopK(edges: DataFrame, k: Int): DataFrame = {
    // one checkpoint shared by the degree pass and the whole triangle
    // pipeline — the co-occurrence edge list is computed exactly once
    val e = ckpt(edges)
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") > 1)
      .join(perNodeTrianglesOn(e), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"), col("deg"),
        (lit(2.0) * coalesce(col("n_tri"), lit(0L)) /
          (col("deg") * (col("deg") - 1))).as("coeff"))
      .orderBy(col("n_tri").desc, col("node")).limit(k)
  }

  /** Top-k nodes by co-occurrence degree — the "hub report" audit that
    * accompanies any co-occurrence graph (hubs are where wedge counts,
    * LSH buckets, and join skew all concentrate). Deterministic total
    * order: (degree desc, node).
    */
  def degreeTopK(edges: DataFrame, k: Int): DataFrame =
    edges
      // one explode pass, not a two-arm union: each union arm is a full
      // replica of the upstream edge pipeline (the co-occurrence join +
      // distinct) unless ReuseExchange happens to dedup it — the same
      // guaranteed-once reasoning as edgeTriangles' degree stage
      .select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("node"))
      .limit(k)
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{topk, vec}

/** Similarity search over an `array<float>` embedding column.
  *
  * The dot-product inner loop is the native codegen'd `VecDot` Catalyst
  * expression (graft.functions) — no UDF boxing, stays inside
  * WholeStageCodegen.
  *
  * Scale posture: the query set is broadcast (it is small by definition);
  * the corpus is never shuffled for brute force, and the IVF/LSH variants
  * bound the candidate set per query/bucket so the join never goes
  * all-pairs at 100 TB.
  *
  * CACHE OWNERSHIP (r15 ADVICE): the trained-model hand-offs below
  * (`pqCodebook`, `centFlat`/`centArr`, `flat0`, the trained codebook)
  * are `cache()`d K-row/one-row frames that the RETURNED plan still
  * references — nothing inside an entry point may unpersist them, so
  * they live in the session's CacheManager until the caller drops them.
  * A caller sweeping many corpora in one long-lived session owns the
  * cleanup: `spark.catalog.clearCache()` between sweeps (what Bench does
  * between passes), or unpersist after materializing the returned frame.
  * The entries are model-sized (numCentroids × dim numbers), never
  * corpus-sized, so the leak bound is bytes per call, not data.
  */
object Similarity {

  /** Quantized cosine (vec.cosineQ): fused single-pass codegen'd
    * expression over the raw float embeddings; scores are exact integer
    * arithmetic internally, so results and top-k rankings are
    * bit-identical across engines and partitionings.
    */
  private def cosine = vec.cosineQ _

  /** Rank the scored (q_id, vec_id, <scoreCol>) rows down to top-k per
    * query with the native bounded-heap aggregate
    * (graft.functions.BoundedTopK): a k-bounded heap per input partition
    * (partial, corpus parallelism), k-sized heap-union at final — the
    * shuffle carries |queries| × k rows, not the full scored set. The
    * previous `row_number() OVER (PARTITION BY q_id)` form funneled every
    * scored row into |queries| partitions and sorted them — 10 tasks each
    * sorting 10 TB at scale. Ties break (score desc, id asc) — the
    * oracle's ORDER BY.
    */
  private def rankTopK(scored: DataFrame, k: Int,
                       scoreCol: String = "cos_sim"): DataFrame =
    scored.groupBy("q_id")
      .agg(topk(col(scoreCol), col("vec_id"), k).as("tk"))
      .select(col("q_id"), posexplode(col("tk")))
      .select(col("q_id"), (col("pos") + 1).as("rnk"),
        col("col.nn_id"), col("col.cos_sim").as(scoreCol))

  /** Brute-force cosine top-k: corpus scan × broadcast queries.
    * The exact baseline every approximate variant is measured against.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb")))
    val scored = corpus.join(q, col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", cosine(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** IVF-style top-k: probe only the query's coarse partition (here the
    * `label` column stands in for the centroid assignment an upstream
    * k-means would produce). At scale this is the difference between
    * scanning 100 TB and scanning one partition per query.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), col("label").as("q_label")))
    val scored = corpus.join(q,
      col("label") === col("q_label") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", cosine(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Guarded cosine over QUANTIZED (integral-double) vectors: the three
    * dot products are exact integer sums via the codegen'd VecDot, the
    * zero-vector guard mirrors VecCosineQ / the oracle's CASE — identical
    * IEEE arithmetic on identical exact integers, so bit-identical across
    * engines. Used for centroid assignment where one side (the Lloyd-step
    * centroid) is no longer a raw float embedding.
    */
  private def cosQ(a: org.apache.spark.sql.Column,
                   b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(vec.dot(a, a) * vec.dot(b, b) === 0d, 0d)
      .otherwise(vec.dot(a, b) / (sqrt(vec.dot(a, a)) * sqrt(vec.dot(b, b))))

  /** Assign each row's quantized embedding `qe` to its nearest centroid
    * in the broadcast one-row `cents` array: argmax over (cos, -cid) ==
    * ORDER BY cos DESC, cid ASC — the oracle's tie-break. Native fused
    * CoarseAssignBest expression (optimization r16): the previous
    * transform/array_max lambda ran interpreted per corpus row AND
    * re-evaluated dot(qe, qe) per centroid; the kernel is bit-identical
    * (same guarded cosine arithmetic, same lexicographic tie-break —
    * NativeVecParitySpec) and stays in whole-stage codegen.
    */
  private def coarseAssign(df: DataFrame, cents: DataFrame): DataFrame =
    df.crossJoin(broadcast(cents))
      .withColumn("cid",
        vec.coarseAssignBest(col("qe"), col("cents")).getField("cid"))
      .drop("cents")

  /** The quantized corpus `(vec_id, qe)` the k-means and PQ paths run on. */
  private def quantized(df: DataFrame): DataFrame =
    df.select(col("vec_id"), vec.quantize(col("embedding")).as("qe"))

  /** Collapse flat `(cid, ce)` centroids into the one-row, cid-sorted
    * `cents` model that [[coarseAssign]] and [[probe]] broadcast.
    */
  private def model(flat: DataFrame): DataFrame =
    flat.agg(sort_array(collect_list(struct(col("cid"), col("ce")))).as("cents"))

  /** The deterministic seed model: the quantized vectors of the `k`
    * smallest vec_ids, each its own centroid (cid = vec_id).
    */
  private def seeds(qc: DataFrame, k: Int): DataFrame =
    model(qc.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("qe").as("ce")))

  /** One Lloyd step from [[seeds]]: assign every `qe` to its nearest seed,
    * then centroid = floor(per-dim mean) back onto the integer grid. Sums
    * of quantized components are exact (|q| ~ 2^21, n ~ corpus per
    * cluster — far below 2^53), so the division inputs are bit-identical
    * in any engine and at any partitioning. Returns flat `(cid, ce)`,
    * uncached: each caller owns its own materialization.
    */
  private def lloyd(qc: DataFrame, k: Int, dim: Int): DataFrame = {
    val sums = (1 to dim).map(d => sum(element_at(col("qe"), d)).as(s"s$d"))
    coarseAssign(qc, seeds(qc, k)).groupBy("cid")
      .agg(count(lit(1)).as("n"), sums: _*)
      .select(col("cid"), array((1 to dim).map(d =>
        floor(col(s"s$d") / col("n")).cast("double")): _*).as("ce"))
  }

  /** Each query row (carrying its quantized `qe`) probes its `nprobe`
    * nearest centroids of the broadcast model: the scored array sorts by
    * (-cos, cid) ascending == cos DESC, cid ASC (cids are unique, so the
    * trailing `ce` never decides). One output row per probe, with struct
    * `p = (ncs, cid, ce)`.
    */
  private def probe(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame =
    q.crossJoin(broadcast(cents))
      .withColumn("p", explode(slice(array_sort(transform(col("cents"),
        c => struct((-cosQ(col("qe"), c("ce"))).as("ncs"), c("cid").as("cid"),
          c("ce").as("ce")))), 1, nprobe)))
      .drop("cents")

  /** IVF top-k with a REAL coarse quantizer (vs `ivfTopK`'s pre-labeled
    * stand-in): deterministically seeded k-means over the quantized
    * embedding space — seeds are the `numCentroids` smallest vec_ids, one
    * Lloyd refinement step, then queries probe their `nprobe` nearest
    * centroids and pay exact cosine only inside the probed inverted lists.
    *
    * Scale shape (the part that matters at 100 TB):
    *   - both assignment passes are NARROW projections — the centroid set
    *     is collapsed to a single broadcast row and each corpus vector
    *     picks argmax cosine inside a higher-order `transform`; the corpus
    *     is never shuffled to be assigned;
    *   - the Lloyd step shuffles only partial aggregates: per-dimension
    *     exact integer sums (quantized grid, so order-independent and
    *     oracle-reproducible) in ONE hash aggregate — K×dim numbers cross
    *     the wire, not vectors;
    *   - probing broadcasts |queries| × nprobe rows against the assigned
    *     corpus (equi-join on centroid id, no corpus shuffle), and the
    *     final rank is the bounded-heap `topk` partial aggregate.
    * At real scale the seeds would come from k-means‖ on a sample; the
    * assignment / Lloyd / probe machinery is exactly what ships here.
    * Reference ANN surface: qpmodel has none — this is the training-data
    * pipeline extension mandated by the build brief.
    */
  def ivfKmeansTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    numCentroids: Int = 8, nprobe: Int = 2,
                    dim: Int = 64): DataFrame = {
    val qc = corpus.select(col("vec_id"), col("embedding"),
      vec.quantize(col("embedding")).as("qe"))
    // The centroid "model" (one row of K structs) feeds BOTH the
    // re-assignment and the probe branch; without materialization Spark
    // would recompute its corpus pass per consumer. cache() of K×dim
    // numbers is the within-query model hand-off (Bench unpersists
    // between passes, so timings stay honest).
    val centArr = model(lloyd(qc, numCentroids, dim)).cache()

    val asg2 = coarseAssign(qc, centArr).select("vec_id", "embedding", "cid")

    val probes = probe(queries.select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        vec.quantize(col("embedding")).as("qe")), centArr, nprobe)
      .select(col("q_id"), col("q_emb"), col("p.cid").as("p_cid"))

    val scored = asg2.join(broadcast(probes),
        col("cid") === col("p_cid") && col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", cosine(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Exact quantized-dot top-k: brute force under the inner-product
    * metric — the control ANN-by-dot variants (PQ/ADC) are measured
    * against, since ADC approximates the dot product, not the cosine.
    */
  def dotTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      vec.quantize(col("embedding")).as("q_qe")))
    val scored = quantized(corpus)
      .join(q, col("vec_id") =!= col("q_id"))
      .withColumn("dotq", vec.dot(col("q_qe"), col("qe")))
    rankTopK(scored, k, scoreCol = "dotq")
  }

  /** Product-quantization codebook: one broadcast row. For each of the
    * `m` subspaces (contiguous `dim/m`-dim slices of the QUANTIZED
    * embedding), the codewords are the subvectors of the `ks` smallest
    * vec_ids — deterministically seeded, exactly like `ivfKmeansTopK`'s
    * seeds (a production build would train each sub-codebook with k-means
    * on a sample; the encode / ADC machinery below is what matters at
    * scale and is identical either way). Codeword ids are DENSE 0-based
    * ranks of the seed vec_ids, not the vec_ids themselves: the ADC
    * lookup below indexes by position (element_at(cws, cid+1)), so gapped
    * or non-zero-based corpus ids must not leak into cid or every lookup
    * shifts onto the wrong codeword. Layout:
    * `array<struct<j, cws: array<struct<cid, cw>>>>`, both levels
    * sort_array'd so position = index (element_at(cb, j+1) is subspace j,
    * element_at(cws, cid+1) is codeword cid).
    */
  private def pqSeedsFlat(qc: DataFrame, m: Int, ks: Int,
                          subDim: Int): DataFrame =
    qc.filter(col("vec_id") < ks)
      .withColumn("cid",
        (row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy("vec_id")) - 1).cast("int")) // ≤ ks rows: 1 partition is fine
      .select(col("cid"),
        posexplode(expr(s"transform(sequence(0, ${m - 1}), " +
          s"j -> slice(qe, j * $subDim + 1, $subDim))")))
      .toDF("cid", "j", "cw")

  /** Nest a flat (j, cid, cw) codeword frame into the one-row broadcast
    * layout the encode/LUT expressions index positionally.
    */
  private def pqNest(flat: DataFrame): DataFrame =
    flat
      .groupBy("j")
      .agg(sort_array(collect_list(struct(col("cid"), col("cw")))).as("cws"))
      .agg(sort_array(collect_list(struct(col("j"), col("cws")))).as("cb"))

  // cache() (optimization r15): every caller feeds the one-row codebook
  // to TWO consumers (corpus encode + per-query LUT) — uncached, the
  // whole seed-window/nest chain executed twice per query. m×ks×subDim
  // numbers: the same within-query model hand-off as ivfKmeansTopK's
  // centArr (Bench clears the cache between passes).
  private def pqCodebook(qc: DataFrame, m: Int, ks: Int, subDim: Int): DataFrame =
    pqNest(pqSeedsFlat(qc, m, ks, subDim)).cache()

  /** The PQ subspace width `dim / m`; `m` must divide `dim` exactly. */
  private def subDimOf(m: Int, dim: Int): Int = {
    val subDim = dim / m
    require(m * subDim == dim, s"m=$m must divide dim=$dim")
    subDim
  }

  /** Product-quantization top-k (asymmetric distance computation): encode
    * the corpus once as `m` one-byte-ish codes (argmin L2 to the subspace
    * codebook, ties to the smaller cid), then score each (query, vector)
    * pair as `sum_j LUT_q[j][code_j]` where `LUT_q[j][cid] = dot(q_sub_j,
    * codeword)` is an m×ks table computed ONCE per query against the
    * broadcast codebook.
    *
    * Scale shape — this is the 100 TB memory path for ANN:
    *   - the codebook is K×dim numbers, broadcast; the corpus is never
    *     shuffled — encoding is a NARROW projection, and at rest the
    *     encoded corpus is m bytes/vector vs 4·dim (a 32× footprint drop
    *     at m=8, dim=64: the difference between spilling and RAM-resident
    *     at 10^11 vectors);
    *   - ADC scoring reads m array lookups per corpus vector instead of a
    *     dim-length dot product — O(m) per candidate;
    *   - the final rank is the bounded-heap `topk` partial aggregate
    *     (shuffle = |queries| × k rows).
    * Everything runs on the integral quantized grid (exact integer sums
    * < 2^53), so codes, LUTs, ADC scores and rankings are bit-identical
    * across engines and partitionings — the DuckDB oracle re-derives all
    * of it. Reference ANN surface: qpmodel has none — training-data
    * pipeline extension per the build brief.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, ks: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = subDimOf(m, dim)
    // Checkpointed once: the quantized corpus feeds the codebook seeds
    // AND the encode (guaranteed-once rationale of pqKmeansTopK).
    val qc = quantized(corpus).localCheckpoint(eager = false)
    pqAdc(qc, queries, pqCodebook(qc, m, ks, subDim), k, subDim)
  }

  /** Encode: codes[j] = argmin_cid L2(sub_j, cw) — array_min over
    * struct(d2, cid) is lexicographic, i.e. min distance then min cid.
    * Every input column except the consumed embedding passes through —
    * so a caller that already carries the coarse `cid` on each row
    * (IVF variants) keeps it for free instead of joining the encoded
    * frame back to itself to recover it (each such join was a full
    * corpus-sized shuffle+sort pair at scale).
    *
    * The subspace width is each codeword's own length, so the codebook
    * must have uniform-length codewords (every builder here emits
    * `subDim`-long ones).
    */
  private def pqEncode(qc: DataFrame, cb: DataFrame): DataFrame = {
    // Native PqEncodeCodes (optimization r16): the nested
    // transform/array_min/aggregate/zip_with lambda chain — m × ks ×
    // subDim interpreted ops per corpus row, THE encode hot loop — as
    // one compiled kernel, bit-identical (same left-to-right d2 sums,
    // same (d2, cid) tie-break — NativeVecParitySpec).
    qc.crossJoin(broadcast(cb))
      .withColumn("codes", vec.pqEncode(col("qe"), col("cb")))
      .drop("qe", "cb")
  }

  /** Per-query lookup tables against the broadcast codebook:
    * lut[j+1][cid+1] = dot(q_sub_j, codeword cid of subspace j).
    */
  private def pqLut(queries: DataFrame, cb: DataFrame, subDim: Int): DataFrame =
    queries
      .select(col("vec_id").as("q_id"), vec.quantize(col("embedding")).as("q_qe"))
      .crossJoin(broadcast(cb))
      .withColumn("lut", expr(
        s"""transform(cb, e -> transform(e.cws, c ->
           |  aggregate(zip_with(slice(q_qe, e.j * $subDim + 1, $subDim), c.cw,
           |    (a, b) -> a * b), 0D, (acc, v) -> acc + v)))""".stripMargin))
      .select(col("q_id"), col("lut"))

  /** The ADC score: m table lookups per (vector, query), never a full
    * dot — as the NATIVE codegen'd AdcDot expression. The composed
    * `aggregate(sequence(0, m-1), …)` lambda form computes the same IEEE
    * sum but runs interpreted; at 2M vectors × 10 queries the interpreter
    * was ~25× the whole-query wall-clock (r9 third-decade soak, see
    * BASELINE.md). `codes` carries m ints, `lut` m×ks doubles;
    * lut[j][codes[j]] summed left-to-right — bit-identical to the lambda
    * and to the oracle's per-subspace join-sum.
    */
  private def adcDot = vec.adcDot(col("lut"), col("codes"))

  /** Encode + ADC-score + rank against a given broadcast codebook — the
    * shared tail of [[pqTopK]] (seeded) and [[pqKmeansTopK]] (trained).
    */
  private def pqAdc(qc: DataFrame, queries: DataFrame, cb: DataFrame,
                    k: Int, subDim: Int): DataFrame = {
    val scored = pqEncode(qc, cb)
      .crossJoin(broadcast(pqLut(queries, cb, subDim)))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("adc_dot", adcDot)
    rankTopK(scored, k, scoreCol = "adc_dot")
  }

  /** IVF-PQ: the billion-scale production ANN index shape — a coarse
    * quantizer routes each vector to an inverted list and each query to
    * its `nprobe` nearest lists, and PQ/ADC scores ONLY the probed
    * lists' vectors. Composes [[ivfKmeansTopK]]'s seeded coarse stage
    * with [[pqTopK]]'s encode/ADC fine stage (one GLOBAL codebook — the
    * non-residual IVFADC variant, which keeps the oracle derivation to
    * one codebook; per-list residual codebooks are the classical
    * refinement).
    *
    * Scale shape on top of PQ's: the ADC scan shrinks from the whole
    * corpus to |probed lists| ≈ (nprobe / numCentroids) of it, and the
    * probe join is keyed on the coarse cid — at rest the index is
    * m bytes + one int per vector, the serving cost per query is
    * nprobe list scans of O(m) lookups each.
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                numCentroids: Int = 8, nprobe: Int = 2,
                m: Int = 8, ks: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = subDimOf(m, dim)
    // Checkpointed once: the quantized corpus feeds the seed filter,
    // the coarse assignment, the codebook AND the encode (measured 7
    // file scans without it — guaranteed-once rationale of
    // pqKmeansTopK).
    val qc = quantized(corpus).localCheckpoint(eager = false)
    // Coarse: seeded centroids; each corpus vector files under one list.
    // The assignment keeps qe so pqEncode can carry cid through — no
    // join back onto the corpus to recover the list id.
    val seedArr = seeds(qc, numCentroids)
    val lists = coarseAssign(qc, seedArr).select(col("vec_id"), col("qe"), col("cid"))
    val probes = probe(queries
        .select(col("vec_id").as("q_id"), vec.quantize(col("embedding")).as("qe")),
        seedArr, nprobe)
      .select(col("q_id"), col("p.cid").as("p_cid"))
    // Fine: global PQ codebook; ADC only inside probed lists.
    val cb = pqCodebook(qc, m, ks, subDim)
    val scored = pqEncode(lists, cb)
      .join(broadcast(probes.join(pqLut(queries, cb, subDim), "q_id")),
        col("cid") === col("p_cid") && col("vec_id") =!= col("q_id"))
      .withColumn("adc_dot", adcDot)
    rankTopK(scored, k, scoreCol = "adc_dot")
  }

  /** Residual IVF-PQ — true IVFADC: PQ encodes each vector's RESIDUAL
    * against its coarse centroid (`qe − ce`, exact on the integer grid)
    * instead of the raw vector, and the score adds the coarse term back:
    * `dot(q, x) ≈ dot(q, ce_x) + ADC_q(codes(x − ce_x))`. Residuals
    * concentrate near the origin with far less spread than raw vectors,
    * so the same `m × ks` code budget quantizes them with lower error —
    * the standard accuracy win of IVFADC (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011, §IV.B) —
    * gated here by `SimilaritySpec`'s recall comparison against
    * [[ivfPqTopK]] at the identical budget.
    *
    * Scale shape adds only the coarse [[lloyd]] step to [[ivfPqTopK]]'s
    * plan (one K×dim partial-sum aggregate — the body says why the
    * centroid mean is required, not optional, under residual encoding):
    * residual computation is one broadcast-join narrow projection (the
    * centroid table is `numCentroids` rows); the LUT stays per-query-only
    * (it scores the residual codewords against the RAW query — the
    * `dot(q, ce)` probe offset, |queries| × nprobe numbers, carries the
    * coarse part), so nothing new shuffles and the corpus is still never
    * broadcast. One global residual codebook (shared across lists) keeps
    * the code budget and the oracle derivation identical to the
    * non-residual variant; per-list codebooks are the classical further
    * refinement.
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                        numCentroids: Int = 8, nprobe: Int = 2,
                        m: Int = 8, ks: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = subDimOf(m, dim)
    val qc = quantized(corpus)
    // One coarse Lloyd step is LOAD-BEARING here, not an optional
    // refinement: residuals only concentrate when the centroid is near its
    // list's MEAN. Against raw seed vectors E‖x − c‖² ≈ ‖x‖² + ‖c‖²
    // (unrelated vectors), i.e. residuals GROW and measured recall drops
    // below the non-residual variant (0.17 vs 0.27 on the sf0.001 gate
    // data).
    // cache() (optimization r15): centFlat (numCentroids rows) feeds BOTH
    // centArr and the residual's broadcast join — uncached, the entire
    // Lloyd chain (corpus assignment + 64-column aggregate) executed
    // twice (the r15 before-plan shows the duplicated subtree).
    val centFlat = lloyd(qc, numCentroids, dim).cache()
    val centArr = model(centFlat).cache()
    // Residual on the quantized grid: integer − integer is exact, so
    // codebook training, encoding and ADC stay oracle-reproducible.
    // Lazy localCheckpoint (same rationale as the LSH helpers): two
    // consumers read this frame (codebook seeds, encode) — without it
    // each re-runs the coarse assignment over the corpus, measured 2.5x
    // the non-residual variant's wall-clock at sf0.1.
    val resid = coarseAssign(qc, centArr)
      .join(broadcast(centFlat), "cid")
      .select(col("vec_id"), col("cid"),
        // native VecSub — the zip_with subtraction lambda ran
        // interpreted per corpus row (optimization r16, bit-identical)
        vec.sub(col("qe"), col("ce")).as("qe"))
      .localCheckpoint(eager = false)
    val cb = pqCodebook(resid.select("vec_id", "qe"), m, ks, subDim)
    // Each probe carries its dot(q, ce) offset for the score
    // reconstruction — computed for the nprobe chosen centroids only.
    val probes = probe(queries
        .select(col("vec_id").as("q_id"), vec.quantize(col("embedding")).as("qe")),
        centArr, nprobe)
      .select(col("q_id"), col("p.cid").as("p_cid"),
        vec.dot(col("qe"), col("p.ce")).as("q_ce_dot"))
    val scored = pqEncode(resid.select("vec_id", "cid", "qe"), cb)
      .join(broadcast(probes.join(pqLut(queries, cb, subDim), "q_id")),
        col("cid") === col("p_cid") && col("vec_id") =!= col("q_id"))
      .withColumn("adc_dot", col("q_ce_dot") + adcDot)
    rankTopK(scored, k, scoreCol = "adc_dot")
  }

  /** PQ top-k with a TRAINED codebook: one Lloyd refinement of the
    * seeded sub-codebooks before encode/ADC — assign every subvector to
    * its nearest seed codeword (argmin L2, ties to the smaller cid),
    * recompute each codeword as the FLOOR of the per-dimension mean of
    * its members (floor keeps the codeword on the integral quantized
    * grid, so every downstream distance/score stays an exact integer sum
    * the oracle reproduces), and keep the seed codeword for any cluster
    * left empty (cids must stay dense — the ADC lookup is positional).
    *
    * Scale shape: training adds ONE narrow pass over the corpus (the
    * assignment is a broadcast-codebook projection, the Lloyd means one
    * (j, cid, dim)-keyed aggregation — 3 small shuffles of m×ks×subDim
    * groups); everything else is [[pqTopK]]'s machinery unchanged. A
    * production build would iterate on a SAMPLE instead of the full
    * corpus; one full-corpus step keeps the oracle exactly re-derivable.
    */
  def pqKmeansTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   m: Int = 8, ks: Int = 16, dim: Int = 64): DataFrame = {
    val subDim = subDimOf(m, dim)
    // Lazy localCheckpoint: the quantized corpus feeds the seed pass,
    // the Lloyd assignment AND the final encode — without it each
    // consumer re-scans the raw embedding column (measured 8 corpus
    // scans in the initial plan), dedup'd only if ReuseExchange happens
    // to fire. Same guaranteed-once trade as ivfPqResidualTopK's
    // residual frame and Spark ML's cache-before-kmeans practice: one
    // scan plus a corpus-sized local spill beats k re-reads of the
    // fattest column in the lake.
    val qc = quantized(corpus).localCheckpoint(eager = false)
    // cache(): flat0 (≤ m×ks rows) feeds the seed codebook AND the
    // empty-cluster fallback join — uncached, the seed window chain ran
    // twice (two-consumer rationale of pqCodebook).
    val flat0 = pqSeedsFlat(qc, m, ks, subDim).cache()
    val cb0 = pqNest(flat0)
    // Assign every (vector, subspace) to its nearest seed codeword.
    // The argmin-L2 is the native PqEncodeCodes kernel (optimization
    // r16 — see pqEncode); the remaining lambda only slices out the m
    // subvectors (cb is j-sorted and j is dense, so element_at(codes,
    // e.j + 1) is exactly the argmin the fused struct form computed).
    val asg = qc.crossJoin(broadcast(cb0))
      .withColumn("codes", vec.pqEncode(col("qe"), col("cb")))
      .select(col("vec_id"), posexplode(expr(
        s"""transform(cb, e -> struct(
           |  slice(qe, e.j * $subDim + 1, $subDim) AS sv,
           |  element_at(codes, e.j + 1) AS cid))""".stripMargin)))
      .select(col("pos").as("j"), col("col.cid").as("cid"), col("col.sv").as("sv"))
    // Lloyd step: floor per-dim mean back onto the integer grid.
    val cent = asg
      .select(col("j"), col("cid"), posexplode(col("sv"))).toDF("j", "cid", "d", "v")
      .groupBy("j", "cid", "d").agg(floor(sum("v") / count(lit(1))).as("fd"))
      .groupBy("j", "cid")
      // CAST back to double: Spark's FLOOR yields BIGINT, but codewords
      // must stay array<double> to match the seed frame and zip_with math.
      .agg(expr("transform(array_sort(collect_list(struct(d, fd))), " +
        "e -> CAST(e.fd AS DOUBLE))").as("cw"))
    // Empty clusters keep their seed codeword so cids stay dense.
    val flat1 = flat0.as("s")
      .join(cent.as("c"), Seq("j", "cid"), "left")
      .select(col("j"), col("cid"),
        coalesce(col("c.cw"), col("s.cw")).as("cw"))
    // cache(): the trained one-row codebook feeds pqAdc's encode AND LUT
    // (same two-consumer rationale as pqCodebook).
    pqAdc(qc, queries, pqNest(flat1).cache(), k, subDim)
  }

  /** PQ shortlist + exact re-rank — the production ANN serving shape:
    * ADC ranks the whole corpus cheaply down to a `shortlist` of
    * candidates per query (O(m) per vector), then only those candidates
    * pay the exact cosine against the raw embeddings, and the top `k`
    * survive. The expensive exact pass touches |queries| × shortlist
    * rows — independent of corpus size.
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                   shortlist: Int = 10, m: Int = 8, ks: Int = 16,
                   dim: Int = 64): DataFrame = {
    // The shortlist is |queries| × shortlist rows BY CONSTRUCTION —
    // independent of corpus size — so it is the broadcast side, always.
    // Without the hint, Spark's file-size estimate broadcasts the CORPUS
    // whenever its parquet compresses under the threshold (floats
    // compress ~10×: a 5 MB file decompressed to a 50 MB hashed
    // relation in the 10× soak, and at 100 TB it would be a driver
    // OOM); the corpus must stream.
    val short = broadcast(pqTopK(corpus, queries, shortlist, m, ks, dim)
      .select(col("q_id"), col("nn_id").as("vec_id")))
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb")))
    val scored = short.join(corpus.select("vec_id", "embedding"), "vec_id")
      .join(q, "q_id")
      .withColumn("cos_sim", cosine(col("q_emb"), col("embedding")))
    rankTopK(scored, k)
  }

  /** Sign-LSH bucketed near-dup pairs: bucket on the sign pattern of the
    * first `signBits` QUANTIZED dimensions (a fixed random-hyperplane
    * sketch — deterministic and re-derivable by the oracle; quantized so
    * the sign test agrees bit-for-bit with the quantized cosine scores),
    * then pay the exact cosine only within buckets. Bucketed equi-join —
    * shuffles on the bucket key, never all-pairs.
    */
  def signLshNearDup(corpus: DataFrame, signBits: Int = 8,
                     threshold: Double = 0.4): DataFrame = {
    val b = corpus.selectExpr("vec_id", "embedding",
      s"${signKey("1", signBits)} AS bucket")
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos_sim"))
      .filter(col("cos_sim") > threshold)
  }

  /** SQL for the sign-LSH bucket key: the '1'/'0' string of the quantized
    * signs of `len` dims of `embedding` from 1-based position `start`.
    */
  private def signKey(start: String, len: Int): String =
    s"""concat_ws('', transform(slice(embedding, $start, $len),
       |  x -> CASE WHEN ROUND(CAST(x AS DOUBLE) * 1048576) >= 0
       |       THEN '1' ELSE '0' END))""".stripMargin

  /** Multi-band sign-LSH: `bands` independent sign buckets over disjoint
    * dimension slices; a pair is a candidate if ANY band matches
    * (OR-amplification — recall grows with bands while each band's
    * bucket join stays tiny). The banded-LSH shape minhash dedup uses,
    * applied to embeddings: shuffle on (band idx, band value), exact
    * cosine only on candidates, never all-pairs.
    */
  def signLshBanded(corpus: DataFrame, bands: Int = 4, bandBits: Int = 8,
                    threshold: Double = 0.4, maxBucket: Int = 500): DataFrame = {
    // Hot-bucket cap (Dedup.capBuckets): the bucket join is quadratic
    // within a bucket, and an embedding cluster (boilerplate pages,
    // near-identical templates) can concentrate one. Note sign-LSH
    // buckets also grow linearly with corpus size at FIXED bandBits
    // (2^bandBits patterns): at much larger corpora, raise bandBits
    // (more hyperplanes) rather than the cap.
    val banded = Dedup.capBuckets(corpus
      .select(col("vec_id"), col("embedding"), posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> ${signKey(s"b * $bandBits + 1", bandBits)})")))
      .toDF("vec_id", "embedding", "bidx", "bval"), maxBucket)
    banded.as("a").join(banded.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bval") === col("b.bval") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        cosine(col("a.embedding"), col("b.embedding")).as("cos_sim"))
      .distinct()
      .filter(col("cos_sim") > threshold)
  }

  /** The deterministic k-means "model" as one (cid, ce)-struct array row:
    * seeds = the `numCentroids` smallest vec_ids, one [[lloyd]] floor-mean
    * step on the quantized grid, exposed for model-apply consumers
    * (streaming ingest assignment, external index builds). K×dim numbers:
    * always broadcastable.
    */
  def kmeansCentroids(corpus: DataFrame, numCentroids: Int = 8,
                      dim: Int = 64): DataFrame =
    model(lloyd(quantized(corpus), numCentroids, dim))

  /** Assign each row's `embedding` to its nearest centroid in the
    * broadcast one-row model (argmax cosine, ties to the smaller cid —
    * the oracle's ORDER BY): adds (cid, cos_centroid). A stateless
    * narrow projection, so it applies identically to a static frame or
    * an unbounded stream (stream–static join with a broadcast static
    * side) — the index-ingest serving shape: the corpus/stream is never
    * shuffled to be assigned.
    */
  def assignEmbeddings(df: DataFrame, cents: DataFrame): DataFrame =
    df.withColumn("qe", vec.quantize(col("embedding")))
      .crossJoin(broadcast(cents))
      // native CoarseAssignBest — see coarseAssign's scaladoc
      .withColumn("__m", vec.coarseAssignBest(col("qe"), col("cents")))
      .withColumn("cid", col("__m").getField("cid"))
      .withColumn("cos_centroid", col("__m").getField("cs"))
      .drop("cents", "__m", "qe")

  /** Incremental semantic dedup: match an INCOMING embedding batch
    * against an EXISTING corpus without ever pairing corpus × corpus —
    * the ingest-time companion of [[semanticDedup]], mirroring
    * `Dedup.incrementalNearDups`' contract for the embedding space. The
    * centroid model is trained on the EXISTING corpus only (the stable
    * index a continuously-ingesting pipeline already holds); both sides
    * assign narrowly against the broadcast model, and the candidate join
    * is incoming ⋈ existing on cluster id — cost bounded by |incoming| ×
    * cluster size, never |existing|². Both join sides are corpus-sized
    * by contract, so the join is hint-pinned shuffle_hash (no estimate
    * can pick a broadcast). Returns (new_id, old_id, cos_sim ≥
    * threshold); incoming docs absent from the result have no semantic
    * dup in the EXISTING corpus. INTRA-BATCH GAP (by design, same as
    * incrementalNearDups): incoming members are never paired with each
    * other — run [[semanticDedup]] over the batch first for a complete
    * ingest. Cross-cluster misses are the standard SemDeDup recall
    * trade, bounded by cluster granularity.
    */
  def incrementalSemanticDedup(existing: DataFrame, incoming: DataFrame,
                               threshold: Double = 0.4,
                               numCentroids: Int = 8,
                               dim: Int = 64): DataFrame = {
    val cents = kmeansCentroids(existing, numCentroids, dim).cache()
    def assigned(df: DataFrame): DataFrame =
      coarseAssign(quantized(df), cents)
    val ex = assigned(existing).select(col("cid"),
      col("vec_id").as("old_id"), col("qe").as("e_qe"))
    assigned(incoming).hint("shuffle_hash")
      .join(ex.hint("shuffle_hash"), Seq("cid"))
      .withColumn("cos_sim", cosQ(col("qe"), col("e_qe")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_id").as("new_id"), col("old_id"), col("cos_sim"))
  }

  /** SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * k-means the embedding space, then within each cluster prune
    * epsilon-duplicates — pairs with cosine ≥ `threshold` — keeping the
    * member LEAST similar to its centroid (the paper's keep rule: low
    * centroid-similarity examples carry the most marginal information;
    * vec_id breaks exact ties). A vector is pruned iff some same-cluster
    * epsilon-neighbor beats it on (cos_centroid ASC, vec_id ASC); in an
    * epsilon-chain this keeps every member that has no BETTER neighbor
    * within epsilon — members further than epsilon from each other are
    * not duplicates and may both survive.
    *
    * Clustering is the shared deterministic [[lloyd]] k-means
    * (quantized grid, seeded centroids, one floor-mean step, argmax
    * cosine with the oracle's tie-break), so every assignment, score and
    * verdict is bit-identical to the SQL oracle.
    *
    * Scale shape: the candidate join is WITHIN-CLUSTER ONLY — one
    * shuffle of the corpus on cid, quadratic only in cluster size. That
    * is the operator's contract at 100 TB: `numCentroids` scales with the
    * corpus (the paper runs 50k clusters for 5B embeddings) so per-list
    * sizes stay bounded; the join is hint-pinned shuffle_hash because
    * both sides are corpus-sized by construction (the same no-broadcast
    * pin as the LSH verification joins). Assignment itself is narrow
    * (broadcast centroid row), the Lloyd step ships K×dim partial sums.
    *
    * Returns every corpus row: (vec_id, cid, cos_centroid, keep).
    */
  def semanticDedup(corpus: DataFrame, threshold: Double = 0.4,
                    numCentroids: Int = 8, dim: Int = 64): DataFrame = {
    val qc = quantized(corpus)
    val centFlat = lloyd(qc, numCentroids, dim).cache()
    val centArr = model(centFlat).cache()
    // Per-vector cluster + centroid similarity; three consumers (both
    // sides of the pair join and the verdict's left leg) — lazy
    // localCheckpoint stops each from re-running the assignment pass,
    // same hand-off as ivfPqResidualTopK's residual frame.
    val cc = coarseAssign(qc, centArr)
      .join(broadcast(centFlat), "cid")
      .select(col("vec_id"), col("qe"), col("cid"),
        cosQ(col("qe"), col("ce")).as("cos_centroid"))
      .localCheckpoint(eager = false)
    val better = cc.select(col("cid").as("b_cid"), col("qe").as("b_qe"),
      col("vec_id").as("b_id"), col("cos_centroid").as("b_cos"))
    val pruned = cc.hint("shuffle_hash")
      .join(better.hint("shuffle_hash"),
        col("cid") === col("b_cid") && col("vec_id") =!= col("b_id") &&
          cosQ(col("qe"), col("b_qe")) >= threshold &&
          (col("b_cos") < col("cos_centroid") ||
            (col("b_cos") === col("cos_centroid") && col("b_id") < col("vec_id"))))
      .select(col("vec_id")).distinct()
      .withColumn("__pruned", lit(1))
    cc.join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"), col("cos_centroid"),
        col("__pruned").isNull.as("keep"))
  }
}

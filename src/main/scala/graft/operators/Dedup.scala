package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication operators for large-scale training-data
  * pipelines. All variants are banded/bucketed — no all-pairs joins — so
  * they scale linearly in corpus size: at 100 TB the only shuffles are
  * hash-partitioned group-bys on content keys / band values, and each
  * band bucket is tiny (near-dup cluster sized), never the full corpus.
  *
  * Hashing is md5-based so results are deterministic and reproducible in
  * any engine (the DuckDB oracle re-derives identical signatures).
  */
object Dedup {

  /** Lineage-truncating materialization for the iterative CC loop.
    * `reliable = false` → localCheckpoint: blocks live on executors only —
    * fastest, but under executor loss / dynamic allocation the truncated
    * lineage cannot recompute them and the job fails. `reliable = true` →
    * reliable checkpoint() to `spark.sparkContext.setCheckpointDir` (must
    * be set by the caller — typically HDFS/object storage on a real
    * cluster), which survives executor loss at the cost of a write per
    * round. On a 100 TB run with dynamic allocation, pass reliable=true.
    */
  private def materialize(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) {
      require(df.sparkSession.sparkContext.getCheckpointDir.isDefined,
        "reliable=true needs spark.sparkContext.setCheckpointDir(...)")
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)

  /** Exact dedup: group on a content hash, keep the minimum id.
    * One shuffle on md5(text) — the canonical 100 TB dedup shape.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count("*").as("n_copies"))

  /** Word 3-gram shingle sets (order-sensitive, unlike raw word sets —
    * the testdata vocabulary is small, so word-set similarity saturates).
    * Native fused WordShingles expression (optimization r16): the
    * composable `array_distinct(transform(sequence(...), i -> concat(...)))`
    * runs as interpreted higher-order lambdas per document — the dedup
    * family's per-row hot loop; the kernel is bit-identical (same
    * concat bytes, same first-occurrence distinct order, pinned in
    * NativeTextParitySpec).
    */
  private def shingled(docs: DataFrame): DataFrame =
    Par.spread(docs).select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        graft.functions.WordShingles(col("ws"), 3).as("s"))

  /** Drop rows of band buckets larger than `maxBucket` (count via one
    * window pass on the same (bidx, bval) key the candidate join shuffles
    * on — no extra shuffle). LSH candidate generation is quadratic
    * WITHIN a bucket; real corpora carry pathological boilerplate
    * clusters (cookie banners, license headers, templated pages) whose
    * bucket would alone produce billions of in-bucket pairs at 100 TB.
    * Dropping a hot bucket costs near-dup recall only among documents
    * that are near-identical to `maxBucket`+ others — exactly the
    * cluster a cheaper exact-dedup / cluster-collapse pass should own —
    * and keeps the join's per-bucket cost bounded. Capped buckets are
    * inspectable via [[hotBuckets]]. The one cap of the banded-LSH
    * family: [[minHashPairs]], [[incrementalNearDups]],
    * [[simHashNearPairs]] and `Similarity.signLshBanded` all call it.
    */
  private[operators] def capBuckets(bands: DataFrame,
                                    maxBucket: Int): DataFrame =
    bands
      .withColumn("__bn",
        count(lit(1)).over(Window.partitionBy("bidx", "bval")))
      .filter(col("__bn") <= maxBucket)
      .drop("__bn")

  /** Exact set Jaccard of each candidate pair: joins `cand` to the
    * `(key, set)` frames `setsA` and `setsB` on their key columns and
    * adds size(A ∩ B) / size(A ∪ B) as `as`. Both joins are hint-pinned
    * shuffle_hash: the set frames are CORPUS-sized (and their exploded
    * arrays are 10-20× the compressed-parquet estimate Spark sizes them
    * by, so in the 10-100 MB-file window the planner would pick one as
    * a broadcast build — measured in the 10× soak). SHJ builds
    * per-partition maps from the bounded pairs side and streams the
    * sets; neither side is ever broadcast.
    */
  private def withJaccard(cand: DataFrame, setsA: DataFrame,
                          setsB: DataFrame, as: String): DataFrame = {
    val Array(ka, sa) = setsA.columns
    val Array(kb, sb) = setsB.columns
    cand.hint("shuffle_hash").join(setsA, ka)
      .hint("shuffle_hash").join(setsB, kb)
      .withColumn(as, size(array_intersect(col(sa), col(sb))) /
        size(array_union(col(sa), col(sb))))
  }

  /** Band buckets (with sizes) that [[minHashPairs]] at the same
    * parameters would DROP — the recall audit for the hot-bucket cap.
    */
  def hotBuckets(docs: DataFrame, k: Int = 8, bandRows: Int = 2,
                 maxBucket: Int = 500): DataFrame =
    minHashBands(shingled(docs), k, bandRows)
      .groupBy("bidx", "bval").agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  private def minHashBands(sh: DataFrame, k: Int, bandRows: Int): DataFrame = {
    // One md5 per shingle; the k minhash functions are the mins of k
    // disjoint 16-bit (4 hex char) slices of that digest — 8x fewer hash
    // computations than k independent salted md5s, same LSH behavior.
    // Computed by the native fused MinHashSignature expression (one
    // codegen'd pass; the composable transform/array_min HOF form is
    // interpreted and ~2x slower — see that class's scaladoc).
    val mh = sh
      .select(col("doc_id"),
        graft.functions.MinHashSignature(col("s"), k, 4).as("sig"))
      .selectExpr("doc_id" +:
        (0 until k).map(i => s"element_at(sig, ${i + 1}) AS h$i"): _*)
    val nBands = k / bandRows
    // A band's bucket key is the concatenation of its minhash slices —
    // exact equality of the pair IS the LSH test; no re-hash needed.
    val bandExprs = (0 until nBands).map { b =>
      val parts = (0 until bandRows).map(r => s"h${b * bandRows + r}")
      s"concat(${parts.mkString(", ")})"
    }
    mh.select(col("doc_id"), posexplode(expr(s"array(${bandExprs.mkString(", ")})")))
      .toDF("doc_id", "bidx", "bval")
  }

  /** MinHash + LSH near-dup candidate pairs, verified by true shingle
    * Jaccard. k independent min-hashes, banded `k / bandRows` ways; docs
    * sharing any band bucket become candidates (shuffle on band value —
    * never all-pairs), then candidates alone pay the exact-Jaccard
    * verification join. Buckets larger than `maxBucket` are excluded
    * from candidate generation (see [[capBuckets]]; testdata buckets
    * max out around 10, so the default cap is far from engaging there).
    *
    * The shingle frame is reused three times (bands + both sides of the
    * verification join), so it is materialized ONCE via localCheckpoint —
    * not cache(): a cached frame would outlive the call in the session's
    * CacheManager (nothing inside the function may unpersist it while the
    * returned plan still references it), forcing callers sweeping many
    * corpora to clearCache() by hand. Checkpoint blocks are owned by the
    * RDD and released by the ContextCleaner when the returned frame is
    * dropped; repeated calls leave the SQL cache empty (asserted in
    * OperatorSpec).
    *
    * CLUSTER CAVEAT: localCheckpoint blocks live on executors only — under
    * executor loss or dynamic allocation the truncated lineage cannot
    * recompute them and the query fails (cache() would have recomputed).
    * On a lossy cluster, run with dynamic allocation off for this stage,
    * or materialize the shingle frame to reliable storage first.
    */
  def minHashPairs(docs: DataFrame, k: Int = 8, bandRows: Int = 2,
                   threshold: Double = 0.8, maxBucket: Int = 500): DataFrame = {
    // eager = false: materialize at the first ACTION, not at plan build —
    // explain()/schema inspection of the returned frame must stay free.
    val sh = shingled(docs).localCheckpoint(eager = false)
    val bands = capBuckets(minHashBands(sh, k, bandRows), maxBucket)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    withJaccard(cand,
        sh.select(col("doc_id").as("doc_a"), col("s").as("sa")),
        sh.select(col("doc_id").as("doc_b"), col("s").as("sb")), "jaccard")
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Incremental near-dup sweep: match an INCOMING batch against an
    * EXISTING corpus without ever pairing corpus × corpus — the shape a
    * continuously-crawling pipeline runs per ingest. Both sides are
    * shingled and banded with the same MinHash-LSH as [[minHashPairs]];
    * the candidate join is incoming-bands ⋈ existing-bands only (shuffle
    * keyed on band value, cost bounded by |incoming| × bucket size, never
    * |existing|²), and only candidates pay the exact-Jaccard
    * verification. Returns (new_id, old_id, jaccard ≥ threshold); new
    * docs absent from the result have no near-dup in the EXISTING corpus.
    *
    * INTRA-BATCH GAP (by design): incoming docs are never paired against
    * each other — two near-identical docs arriving in the same batch that
    * match nothing existing are BOTH admitted. A complete ingest runs
    * [[minHashPairs]] over the incoming batch first (cheap: |incoming|²
    * is bounded by batch size, not corpus size), then this sweep against
    * the corpus.
    *
    * Only the EXISTING side is hot-bucket capped, and the trade-off is:
    * an existing boilerplate cluster of 500+ docs is exactly the hot
    * bucket the cap drops, so a NEW member of that cluster generates no
    * candidates here and is admitted. Those clusters are the province of
    * the periodic exact-dedup / cluster-collapse pass (audit them with
    * [[hotBuckets]]); the cap's job is only to bound the per-ingest
    * quadratic term. Capping the incoming side instead would buy nothing
    * (the batch is small by definition) while making the gap
    * batch-dependent.
    */
  def incrementalNearDups(existing: DataFrame, incoming: DataFrame,
                          k: Int = 8, bandRows: Int = 2,
                          threshold: Double = 0.8,
                          maxBucket: Int = 500): DataFrame = {
    // Same lazy-localCheckpoint rationale (and cluster caveat) as
    // minHashPairs: each side's shingle frame feeds its bands AND the
    // verification join.
    val shE = shingled(existing).localCheckpoint(eager = false)
    val shN = shingled(incoming).localCheckpoint(eager = false)
    val bandsE = capBuckets(minHashBands(shE, k, bandRows), maxBucket)
    val bandsN = minHashBands(shN, k, bandRows)
    val cand = bandsN.as("n")
      .join(bandsE.as("e"),
        col("n.bidx") === col("e.bidx") && col("n.bval") === col("e.bval"))
      .select(col("n.doc_id").as("new_id"), col("e.doc_id").as("old_id"))
      .distinct()
    withJaccard(cand,
        shN.select(col("doc_id").as("new_id"), col("s").as("sn")),
        shE.select(col("doc_id").as("old_id"), col("s").as("so")), "jaccard")
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
  }

  /** SimHash near-dup clustering: `bits`-dimensional signed fingerprint
    * over word hashes; identical fingerprints cluster together (single
    * shuffle on the fingerprint — scale-equivalent to exact dedup).
    * Bit k is the sign of the sum over words of ±1 by digest bit k
    * (native fused SimHashFingerprint: one md5 per word, one pass).
    */
  def simHashClusters(docs: DataFrame, bits: Int = 16): DataFrame =
    fingerprints(docs, bits, "fingerprint")
      .groupBy("fingerprint")
      .agg(min("doc_id").as("keep_id"), count("*").as("n_docs"))
      .filter(col("n_docs") > 1)

  /** `(doc_id, fpCol)`: each document's `bits`-bit SimHash fingerprint. */
  private def fingerprints(docs: DataFrame, bits: Int,
                           fpCol: String): DataFrame =
    Par.spread(docs).select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        graft.functions.SimHashFingerprint(col("ws"), bits).as(fpCol))

  /** SimHash near-pair search with Hamming tolerance: split the `bits`-bit
    * fingerprint into `chunks` equal slices — any pair within Hamming
    * distance < chunks shares at least one identical slice (pigeonhole),
    * so a bucket-join on (slice idx, slice value) finds all such pairs
    * without comparing the corpus pairwise; the exact Hamming distance is
    * then verified per candidate.
    *
    * SCALE: the bucket key space per chunk is 2^(bits/chunks) — a FIXED
    * cardinality, so in-bucket pair generation grows quadratically once
    * the corpus saturates it. Keep slices wide: the default (chunks=2
    * over 32 bits → 2^16 buckets/chunk) is the minimum chunking for
    * maxHamming=1 and 256× sparser than 8-bit slices — the r7 10×
    * soak measured 4-chunk slicing going quadratic at 50k docs while
    * 2-chunk stays linear. Use more chunks ONLY when maxHamming needs
    * them, raising `bits` to keep bits/chunks ≥ 16. `maxBucket`
    * additionally drops over-hot buckets (identical-fingerprint
    * boilerplate families beyond what exact dedup should own), same
    * contract as [[minHashPairs]]'s cap.
    *
    * Fingerprints are reused by both sides of the chunk self-join, so
    * they are materialized once via localCheckpoint — not cache() — for
    * the same ownership reason as [[minHashPairs]]: no session cache
    * entry outlives the call. Same executor-loss/dynamic-allocation
    * caveat as [[minHashPairs]] applies.
    */
  def simHashNearPairs(docs: DataFrame, bits: Int = 32, chunks: Int = 2,
                       maxHamming: Int = 1, maxBucket: Int = 2000): DataFrame = {
    require(maxHamming < chunks, "pigeonhole needs maxHamming < chunks")
    val fps = fingerprints(docs, bits, "fp")
      .localCheckpoint(eager = false) // lazy for the same reason as minHashPairs

    val w = bits / chunks
    // Chunks are the bands: (bidx, bval) = (slice idx, slice value).
    val chunked = capBuckets(
      fps.select(col("doc_id"), col("fp"),
          posexplode(expr(
            s"transform(sequence(0, ${chunks - 1}), c -> substring(fp, c * $w + 1, $w))")))
        .toDF("doc_id", "fp", "bidx", "bval"),
      maxBucket)
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.bidx") === col("b.bidx") && col("a.bval") === col("b.bval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        // native HammingDiff (optimization r16): the per-candidate
        // filter/substring lambda over all `bits` positions ran
        // interpreted; bit-identical incl. past-the-end substring
        // semantics (NativeTextParitySpec)
        graft.functions.HammingDiff(col("a.fp"), col("b.fp"), bits)
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Collapse near-dup PAIRS into duplicate CLUSTERS — connected
    * components over the pair graph: (cluster_id, n_docs) for every
    * component of 2+ documents, cluster_id = the smallest doc_id in the
    * component (fully deterministic).
    *
    * This is the standard follow-on to any LSH pair sweep: pairs alone
    * over-remove (A~B, B~C should keep ONE of {A,B,C}, not two "losers").
    * The engine is [[starEdges]], whose O(log n) rounds do not grow with
    * the component diameter: a long chain (a templated page series where
    * copy i only band-matches copy i±1) does not cost one round per hop.
    */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 25,
                        reliable: Boolean = false): DataFrame =
    // Fixed-point edges are (node, component-min) stars; the min node of
    // each component appears only on the lo side, so size = lo-degree + 1.
    starEdges(pairs, maxIters, reliable)
      .groupBy("lo").agg((count(lit(1)) + 1).as("n_docs"))
      .select(col("lo").as("cluster_id"), col("n_docs"))

  /** Per-document cluster MEMBERSHIP — (doc_id, cluster_id) for every
    * document that participates in a near-dup component. This is the
    * frame a dedup pipeline actually joins against to DROP losers
    * (keep rows where doc_id = cluster_id or doc_id not in members);
    * [[duplicateClusters]] is its per-cluster aggregate. Every
    * edge-connected document is in a 2+ component by construction, so
    * no singleton filter is needed: each star edge (hi, lo) is one
    * member, and each root lo is its own member once.
    */
  def duplicateClusterMembers(pairs: DataFrame, maxIters: Int = 25,
                              reliable: Boolean = false): DataFrame = {
    val edges = starEdges(pairs, maxIters, reliable)
    val roots = edges.select("lo").distinct()
    edges.select(col("hi").as("doc_id"), col("lo").as("cluster_id"))
      .unionByName(roots.select(col("lo").as("doc_id"), col("lo").as("cluster_id")))
  }

  /** Connected components by alternating large-star / small-star edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14): the fixed-point star forest {(hi = node, lo =
    * component-min)} over every non-root node of the pair graph. The
    * round count is O(log n), not the component diameter.
    *
    * Each round is two grouped passes over the edge list:
    *  - large-star: for every node u, hook each strictly-larger neighbor
    *    v > u to m = min(N(u) ∪ {u}) — long chains halve;
    *  - small-star: orient each edge (hi, lo); for every hi, hook hi and
    *    all its smaller neighbors to their minimum — stars flatten.
    * Both emit canonical (hi, lo) edges. Convergence is detected by a
    * collision-proof comparison of consecutive edge sets, fused into the
    * round's materialization; the DuckDB recursive-closure oracle
    * independently certifies the result. A graph that has not reached
    * its fixed point after `maxIters` rounds fails the call rather than
    * return a partial forest, which would label one document twice.
    *
    * Each round's edge set is localCheckpoint'ed (NOT merely cached):
    * the round's plan references the previous edge set ~8-16 times
    * (symmetrization, self-group-by join, two projections of the hooked
    * join), so with bare cache() the ANALYZED plan grows exponentially —
    * Spark stringifies it per job, which OOMs the driver after a few
    * rounds regardless of data size. Checkpointing truncates lineage to
    * the materialized RDD: per-round plan size stays O(1). Local
    * checkpoints suit a static cluster; pass `reliable = true` (with a
    * checkpoint dir set) under executor loss/dynamic allocation.
    */
  private def starEdges(pairs: DataFrame, maxIters: Int,
                        reliable: Boolean): DataFrame = {
    require(Seq("doc_a", "doc_b").forall(pairs.columns.contains(_)),
      "duplicateClusters expects doc_a/doc_b pair columns")
    var edges = materialize(pairs
      .select(greatest(col("doc_a"), col("doc_b")).as("hi"),
              least(col("doc_a"), col("doc_b")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct(), reliable)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      // Large-star: symmetric neighborhoods; min over N(u) ∪ {u} never
      // exceeds u, so every emitted (v, m) with v > u is already (hi, lo).
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mnv"))
        .select(col("u"), least(col("mnv"), col("u")).as("m"))
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .distinct()
      // Small-star: edges already oriented hi > lo; hook hi and each of
      // its smaller neighbors to the neighborhood min.
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      val hooked = large.join(smins, "hi")
      val small = hooked
        .select(col("lo").as("n"), col("m"))
        .unionByName(hooked.select(col("hi").as("n"), col("m")).distinct())
        .filter(col("n") =!= col("m"))
        .select(col("n").as("hi"), col("m").as("lo"))
        .distinct()
      // Convergence check FUSED into the round's materialization
      // (optimization r16, guide §2.4 — fewer exchanges/jobs per
      // iteration): both edge sets are distinct, so old == new iff the
      // full outer join on (hi, lo) leaves no one-sided row. `small`
      // ends in distinct(), i.e. it is ALREADY hash-partitioned on the
      // join key, so the compare join rides the materialize job for one
      // exchange of the (checkpointed) previous edges — where the
      // previous separate union+groupBy+count job re-read BOTH edge
      // sets and paid its own full-width exchange. The verdict
      // aggregate then reads the checkpointed blocks with map-side
      // partials only (no exchange), preserving the collision-proof
      // exact-comparison contract.
      val cmpM = materialize(small.withColumn("__new", lit(1))
        .join(edges.select("hi", "lo").withColumn("__old", lit(1)),
          Seq("hi", "lo"), "full"), reliable)
      val verdict = cmpM.agg(
        sum(when(col("__old").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__new").isNull, 1L).otherwise(0L)).as("n_dropped"))
        .head()
      converged = (verdict.isNullAt(0) || verdict.getLong(0) == 0L) &&
        (verdict.isNullAt(1) || verdict.getLong(1) == 0L)
      // Next round's edges: the new set only, served from cmpM's blocks.
      edges = cmpM.filter(col("__new") === 1).select("hi", "lo")
      iter += 1
    }
    require(converged,
      s"connected components did not reach a fixed point in $maxIters rounds")
    edges
  }

  /** Distinct md5'd word `n`-grams per document: (idAs, g). Native fused
    * GramMd5s expression (optimization r16) — one compiled md5+distinct
    * pass instead of the interpreted transform/md5/array_distinct lambda
    * chain, bit-identical (NativeTextParitySpec).
    */
  private[operators] def wordGrams(df: DataFrame, idAs: String, n: Int): DataFrame =
    Par.spread(df)
      .select(col("doc_id").as(idAs), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col(idAs),
        explode(graft.functions.GramMd5s(col("ws"), n, distinct = true))
          .as("g"))

  /** Cross-corpus decontamination: training documents that share any
    * word n-gram with a holdout/eval set — the standard "is the test set
    * in the training data" sweep an LLM pipeline runs before training.
    *
    * Shape: both sides explode to distinct md5'd n-grams (16-byte join
    * keys, not raw text), the holdout side drops boilerplate grams that
    * appear in more than `maxDf` holdout docs (they'd match everything
    * and mean nothing — and their buckets are exactly the quadratic hot
    * spots), then ONE equi-join on the gram hash + one group-by on
    * train_id. Never all-pairs; both shuffles are hash-partitioned on
    * keys whose cardinality grows with corpus size, so this runs at
    * 100 TB train × small holdout with the holdout gram set broadcast.
    *
    * The holdout-gram broadcast is EXPLICIT, not estimate-driven: the
    * `Generate` under each gram explode wrecks plan-time cardinality
    * (PLANS.md measured est 8.9e9 vs 720 actual on this shape), so any
    * size-based join choice here is a coin flip that only AQE's runtime
    * stats would rescue. Holdout/eval sets are small BY CONTRACT (the
    * benchmark suite, not a corpus), so `broadcast()` pins the one plan
    * that is right at every scale — the 100 TB train gram frame streams
    * map-side and is never shuffled for the probe. If a caller ever
    * passes a corpus-sized "holdout", that misuse surfaces as a
    * broadcast-size error, not a silent slow plan.
    */
  def contamination(train: DataFrame, holdout: DataFrame, n: Int = 8,
                    maxDf: Int = 100): DataFrame = {
    val t = wordGrams(train, "train_id", n)
    val h = wordGrams(holdout, "holdout_id", n)
    val hKept = h.join(
      broadcast(h.groupBy("g").agg(countDistinct("holdout_id").as("df"))
        .filter(col("df") <= maxDf).select("g")),
      "g")
    t.join(broadcast(hKept), "g")
      .groupBy("train_id")
      .agg(countDistinct("g").as("n_shared_grams"),
        countDistinct("holdout_id").as("n_holdout_docs"))
  }

  /** Blocked edit-distance near-dup pairs: candidate pairs share a text
    * prefix block and have similar lengths, and survivors are within
    * `maxDist` Levenshtein edits — the high-precision small-edit sweep
    * (typo fixes, template fill-ins) that MinHash's bag-of-shingles view
    * under-weighs.
    *
    * Scale shape: the blocking join is a plain hash equi-join on the
    * `prefixLen`-char prefix — never all-pairs — and each block is a
    * near-identical-prefix cluster, sized like an LSH band bucket, so
    * the in-block quadratic term is bounded the same way (see
    * [[minHashPairs]]). The length tolerance prunes before the DP, and
    * the edit distance itself is Spark's bounded `levenshtein(l, r,
    * threshold)` (3-arg form), which abandons a pair as soon as the
    * distance provably exceeds `maxDist` — O(maxDist·len), not
    * O(len²), per candidate. Edits inside the first `prefixLen` chars
    * move a doc to a different block and are missed by construction:
    * that is the standard blocking trade-off, and the MinHash sweep is
    * the recall backstop for those.
    */
  def blockedEditDistancePairs(docs: DataFrame, prefixLen: Int = 16,
                               lenTol: Int = 20,
                               maxDist: Int = 30): DataFrame = {
    val side = docs.select(col("doc_id"), col("text"),
      substring(col("text"), 1, prefixLen).as("blk"),
      length(col("text")).as("len"))
    val a = side.select(col("doc_id").as("doc_a"), col("text").as("ta"),
      col("blk"), col("len").as("la"))
    val b = side.select(col("doc_id").as("doc_b"), col("text").as("tb"),
      col("blk"), col("len").as("lb"))
    // shuffle_hash, same rationale as minHashPairs' verification join:
    // both sides are the corpus (the plan-time estimate here misses by
    // 1e5×, so a size-based choice is a coin flip), and per-block build
    // sets are bounded cluster-sized — broadcast must never be the plan.
    a.hint("shuffle_hash").join(b, "blk")
      .where(col("doc_a") < col("doc_b") &&
        abs(col("la") - col("lb")) <= lenTol)
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("ta"), col("tb"), maxDist).as("dist"))
      .where(col("dist") >= 0) // 3-arg levenshtein yields -1 above bound
  }

  /** Character 4-gram Jaccard over a bounded candidate set (the MinHash
    * band candidates) — a second, finer similarity measure for the pairs
    * the LSH sweep surfaced. Candidate-bounded: never all-pairs.
    *
    * Short-text contract: a text shorter than `n` code points has an
    * empty gram set. Paired with a longer text its Jaccard is 0.0; when
    * BOTH texts of a candidate pair are that short the Jaccard is 0/0,
    * which is NULL with `spark.sql.ansi.enabled=false` and a
    * DIVIDE_BY_ZERO error with it on (Spark 4's default). Candidates
    * come from word 3-shingles, so at the default n = 4 only a text of
    * at most 3 code points that still splits into 3 words (a run of
    * spaces) can be that short.
    */
  def charNgramJaccard(docs: DataFrame, n: Int = 4): DataFrame = {
    val cand = minHashPairs(docs, threshold = 0.0)
      .select("doc_a", "doc_b")
    // Native CharNgrams (optimization r16): one compiled code-point pass
    // instead of the interpreted transform/substring/array_distinct
    // chain — hundreds of lambda substrings per doc. Texts shorter than
    // n chars yield an empty gram set (the cross-engine-consistent
    // semantics; the HOF form's descending-sequence edge never occurs
    // on the corpus — see the kernel's scaladoc).
    val grams = docs.select(col("doc_id"),
      graft.functions.CharNgrams(col("text"), n).as("g"))
    withJaccard(cand,
        grams.select(col("doc_id").as("doc_a"), col("g").as("ga")),
        grams.select(col("doc_id").as("doc_b"), col("g").as("gb")),
        "char_jaccard")
      .select("doc_a", "doc_b", "char_jaccard")
  }

  /** Corpus-overlap estimation by bottom-k sketch: how much of corpus A's
    * shingle set corpus B shares (here: the even/odd doc_id halves of
    * `documents`), the cheap first question asked before merging two
    * crawls or measuring leakage between a new dump and the existing
    * training set. Jaccard(A, B) is estimated from the k smallest
    * md5-hashed word `gramLen`-grams of A∪B (md5 is the shared random
    * permutation of the universe; the fraction of the bottom-k present
    * in both sides is an unbiased Jaccard estimator, Broder 1997), and
    * the exact Jaccard is computed alongside as the audit — the same
    * estimate/exact pairing as the ANN recall gates.
    *
    * Scale shape: ONE wordcount-style shuffle (per-gram side-membership
    * census with map-side partial max — the same shape as
    * [[TextAnalysis.vocabCoverage]]'s census), then the sketch is a
    * distributed top-k (TakeOrderedAndProject: per-partition bottom-k,
    * merged k-sized — no global sort) and the exact side is a count-only
    * aggregate of the same census. At 100 TB you keep the sketch and
    * drop the exact audit: delete one aggregate, nothing else changes.
    * Returns one row (k_actual, k_both, est_jaccard, n_union, n_inter,
    * exact_jaccard), all exact integers or exact rationals — bit-stable
    * cross-engine.
    */
  def corpusOverlapSketch(docs: DataFrame, k: Int = 128,
                          gramLen: Int = 3): DataFrame = {
    // Native GramMd5s (optimization r16): same positional gram hashes as
    // the interpreted transform/md5 lambda, one compiled pass.
    val grams = Par.spread(docs)
      .selectExpr("doc_id % 2 AS side", "split(text, ' ') AS ws")
      .filter(s"size(ws) >= $gramLen")
      .select(col("side"),
        explode(graft.functions.GramMd5s(col("ws"), gramLen,
          distinct = false)).as("h"))
    val byGram = grams.groupBy("h").agg(
      max(when(col("side") === 0, 1).otherwise(0)).as("in_a"),
      max(when(col("side") === 1, 1).otherwise(0)).as("in_b"))
    val bottom = byGram.orderBy("h").limit(k)
    val est = bottom.agg(count(lit(1)).as("k_actual"),
      sum((col("in_a") * col("in_b")).cast("long")).as("k_both"))
    val exact = byGram.agg(count(lit(1)).as("n_union"),
      sum((col("in_a") * col("in_b")).cast("long")).as("n_inter"))
    est.crossJoin(exact).select(
      col("k_actual"), col("k_both"),
      (col("k_both").cast("double") / col("k_actual").cast("double"))
        .as("est_jaccard"),
      col("n_union"), col("n_inter"),
      (col("n_inter").cast("double") / col("n_union").cast("double"))
        .as("exact_jaccard"))
  }
}

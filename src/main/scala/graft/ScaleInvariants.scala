package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Closed-form invariant checks for the LSH / connected-components /
  * ANN families on a FULL ScaleGen corpus — the complement of the
  * sampled-oracle sweep (SampleGen): DuckDB certifies a tractable
  * sample bit-for-bit; these certify the full-size output against
  * properties KNOWN BY CONSTRUCTION of the corpus, so the families are
  * verified at 100% of the rows without an hour-scale oracle.
  *
  *   runMain graft.ScaleInvariants <bigDir> <baseDir> [stride=100000]
  *
  * Construction facts used (ScaleGen):
  *  - replica r occupies doc_id in [r*stride, r*stride + base); replica
  *    0 is the UNPERTURBED base corpus (<baseDir>), so its pair set
  *    must equal the base corpus's bit-for-bit;
  *  - the planted dup of doc d (added at RUNTIME by the dedup queries
  *    for d % 5 == 0) is d + 10000, inside the same replica block, with
  *    IDENTICAL text — identical docs share every LSH band, so finding
  *    those pairs is deterministic, not probabilistic;
  *  - cross-replica pairs cannot reach the 0.8 Jaccard threshold
  *    (≥25% of word positions differ → shared-shingle fraction ~1/7).
  *
  * Deliberately NOT asserted: per-replica equality of NATURAL near-dup
  * pairs (measured jaccard 0.90-0.99 in this corpus). Band collision
  * for a non-identical pair is a property of the hashed text, and
  * perturbation changes the hashes — at 4 bands of 2x16-bit minhashes a
  * 0.90-jaccard pair is found with p ≈ 0.9987 per replica, so across
  * 100 replicas a handful of legitimate misses are EXPECTED. Asserting
  * set equality there would encode the LSH's probabilistic contract as
  * a deterministic one (the r7 lesson about fixed-cardinality buckets
  * in reverse); the deterministic subsets above are what construction
  * actually guarantees.
  */
object ScaleInvariants {

  private def fail(msg: String): Nothing = sys.error(s"INVARIANT FAILED: $msg")

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleInvariants <bigDir> <baseDir> [stride]")
    val (dir, baseDir) = (args(0), args(1))
    val stride = if (args.length > 2) args(2).toLong else 100000L
    val spark = GraftSession.local(dataDir = Some(dir))
    val docs = graft.catalog.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    val baseDocs = graft.catalog.Tables.load(spark, baseDir, "documents")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val nReplicas = (docs.agg(max("doc_id")).head().getLong(0) / stride + 1).toInt
    println(s"[invariants] corpus: $nDocs docs, $nReplicas replicas")

    // ———————————————————————————————————————————— 1. exact dedup (planted)
    val planted = docs.unionByName(docs.filter("doc_id % 5 = 0")
      .selectExpr("doc_id + 10000 AS doc_id", "text"))
    val nPlanted = nDocs / 5 // every 5th doc gets one extra copy
    val exact = Dedup.exact(planted).cache()
    val total = exact.agg(sum("n_copies")).head().getLong(0)
    if (total != nDocs + nPlanted)
      fail(s"exact: sum(n_copies)=$total != ${nDocs + nPlanted}")
    // duplicate surplus decomposes exactly: one per planted copy plus
    // the base corpus's natural exact dups (computed by an independent
    // countDistinct plan, not the operator's own groupBy).
    val naturalSurplus = nDocs - docs.agg(countDistinct("text")).head().getLong(0)
    val surplus = total - exact.count()
    if (surplus != nPlanted + naturalSurplus)
      fail(s"exact: dup surplus $surplus != planted $nPlanted + natural $naturalSurplus")
    exact.unpersist()
    println(s"[invariants] exact PASS: ${nDocs + nPlanted} rows grouped, " +
      s"surplus $surplus = $nPlanted planted + $naturalSurplus natural")

    // ———————————————————————————— 2. MinHash-LSH pairs (raw docs, 0.8 thr)
    val pairs = Dedup.minHashPairs(docs).select("doc_a", "doc_b").cache()
    val nPairs = pairs.count()
    val cross = pairs
      .filter((col("doc_a") / stride).cast("long") =!=
        (col("doc_b") / stride).cast("long")).count()
    if (cross != 0) fail(s"minhash: $cross cross-replica pairs (jaccard " +
      "cannot reach 0.8 across replicas by construction)")
    // replica 0 IS the base corpus: its pairs must match the base run
    // bit-for-bit (same texts → same signatures → same candidates).
    val rep0 = pairs.filter(col("doc_a") < stride)
    val basePairs = Dedup.minHashPairs(baseDocs).select("doc_a", "doc_b")
    val rep0Diff = rep0.exceptAll(basePairs).count() +
      basePairs.exceptAll(rep0).count()
    if (rep0Diff != 0)
      fail(s"minhash: replica-0 pair set differs from base corpus by $rep0Diff rows")
    // informational: how the probabilistic tail behaves across replicas
    val perRep = pairs.groupBy(((col("doc_a") / stride).cast("long")).as("rep"))
      .agg(count(lit(1)).as("n")).agg(min("n"), max("n")).head()
    println(s"[invariants] minhash PASS: $nPairs pairs, 0 cross-replica, " +
      s"replica-0 == base corpus exactly; per-replica pair counts in " +
      s"[${perRep.getLong(0)}, ${perRep.getLong(1)}] (probabilistic tail, " +
      "see scaladoc)")
    pairs.unpersist()

    // ————————————————————————— 3. connected components (planted pairs)
    val ppairs = Dedup.minHashPairs(planted).select("doc_a", "doc_b")
      .localCheckpoint(eager = true)
    // every planted pair {d, d+10000} is an IDENTICAL-text pair: its
    // candidates are deterministic (all bands equal), so all must appear.
    val plantedFound = ppairs
      .filter(col("doc_b") === col("doc_a") + 10000 &&
        col("doc_a") % 5 === 0 && pmod(col("doc_a"), lit(stride)) < 10000)
      .count()
    if (plantedFound < nPlanted)
      fail(s"cc: only $plantedFound of $nPlanted planted pairs surfaced")
    // Closed-form certificate of the membership frame: a labelling that
    // covers exactly the pair endpoints once each, agrees across every
    // pair and names each cluster by its minimum member is the min-label
    // of a union of components; clusters never cross replicas.
    val members = Dedup.duplicateClusterMembers(ppairs).cache()
    val nMembers = members.count()
    val ends = ppairs.select(col("doc_a").as("doc_id"))
      .union(ppairs.select(col("doc_b").as("doc_id"))).distinct()
    val endDiff = members.select("doc_id").exceptAll(ends).count() +
      ends.exceptAll(members.select("doc_id")).count()
    if (endDiff != 0)
      fail(s"cc: members differ from one row per pair endpoint by $endDiff rows")
    def label(side: String) =
      members.select(col("doc_id").as(side), col("cluster_id").as(s"c_$side"))
    val torn = ppairs.join(label("doc_a"), "doc_a").join(label("doc_b"), "doc_b")
      .filter(col("c_doc_a") =!= col("c_doc_b")).count()
    if (torn != 0) fail(s"cc: $torn pairs carry two cluster_ids")
    val badRoots = members.groupBy("cluster_id").agg(min("doc_id").as("mn"))
      .filter(col("mn") =!= col("cluster_id")).count()
    if (badRoots != 0)
      fail(s"cc: $badRoots cluster_ids are not their cluster's minimum member")
    val crossRep = members
      .filter((col("doc_id") / stride).cast("long") =!=
        (col("cluster_id") / stride).cast("long")).count()
    if (crossRep != 0) fail(s"cc: $crossRep members sit in another replica's cluster")
    members.unpersist()
    val clusters = Dedup.duplicateClusters(ppairs).cache()
    val nClusters = clusters.count()
    val sizeSum = clusters.agg(sum("n_docs")).head().getLong(0)
    if (sizeSum != nMembers)
      fail(s"cc: cluster sizes sum to $sizeSum, members $nMembers")
    val ccSurplus = sizeSum - nClusters
    if (ccSurplus < nPlanted)
      fail(s"cc: surplus $ccSurplus < $nPlanted planted pairs")
    println(s"[invariants] cc PASS: $nClusters clusters over $nMembers " +
      "pair endpoints, one label per endpoint, agreeing across every " +
      "pair, each its cluster's minimum, 0 cross-replica; sizes sum to " +
      s"the members; $plantedFound/$nPlanted planted pairs found, " +
      s"surplus $ccSurplus >= $nPlanted")
    clusters.unpersist()

    // ———————————————————————————————————— 4. ANN (IVF vs brute = truth)
    val embs = graft.catalog.Tables.load(spark, dir, "embeddings")
    val queries = embs.filter("vec_id < 10")
    val brute = Similarity.bruteForceTopK(embs, queries, 3)
      .select(col("q_id"), col("nn_id"))
    val ivf = Similarity.ivfKmeansTopK(embs, queries, 3)
      .select(col("q_id"), col("nn_id"), lit(1).as("hit"))
    val r = brute.join(ivf, Seq("q_id", "nn_id"), "left")
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("hit"), lit(0))).as("n_hit")).head()
    val (nTrue, nHit) = (r.getLong(0), r.getLong(1))
    if (nTrue != 30) fail(s"ann: brute truth has $nTrue rows, want 30 (10 q x 3)")
    val recall = nHit.toDouble / nTrue
    if (recall < 0.5) fail(f"ann: ivf recall@3 $recall%.2f < 0.50 floor")
    println(f"[invariants] ann PASS: brute truth 30 rows, ivf recall@3 " +
      f"$recall%.2f (>= 0.50 floor; exact value is corpus-dependent)")

    println("[invariants] ALL PASS")
    spark.stop()
  }
}

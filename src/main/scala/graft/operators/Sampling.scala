package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.topk

/** Deterministic stratified sampling for training-data mixes: k documents
  * per stratum (language, source, quality band), chosen by md5 order —
  * reproducible on any engine, any partitioning, any run.
  *
  * The selection "k smallest content-hash values per group" is exactly a
  * bounded top-k, so it rides the native BoundedTopK aggregate: one
  * k-bounded heap per input partition, k-sized heap-union at final — a
  * single aggregate pass whose shuffle carries |strata| × k rows. The
  * window alternative (`row_number() OVER (PARTITION BY stratum ORDER BY
  * hash)`) shuffles and sorts the ENTIRE corpus into |strata| partitions;
  * at 100 TB with a handful of languages that is a handful of tasks
  * sorting terabytes. (Spark's `sampleBy` is Bernoulli — row-count only
  * approximate and dependent on partition layout; this is exact-k and
  * bit-deterministic.)
  *
  * The reference has no sampling beyond row-level Bernoulli
  * (`/root/reference/qpmodel/PhysicalNode.cs` PhysicSampleScan); exact-k
  * stratified selection is the training-pipeline upgrade.
  */
object Sampling {

  /** k ids per stratum, selected by ascending md5 of the id (a fixed,
    * engine-reproducible pseudo-random order). Output: one row per
    * selected (stratum, id) with its selection rank 1..k.
    *
    * The hash score is the first 12 hex digits of md5 as a BIGINT —
    * integral and < 2^48, so its DOUBLE image is exact and orders
    * identically in any engine. Negated because BoundedTopK keeps the
    * HIGHEST scores: max(-h) = min(h).
    */
  def stratifiedByHash(df: DataFrame, stratum: String, id: String,
                       k: Int): DataFrame =
    df.select(col(stratum).as("stratum"), col(id).as("__id"))
      .withColumn("__score",
        -expr(s"conv(substring(md5(CAST(__id AS STRING)), 1, 12), 16, 10)")
          .cast("double"))
      .groupBy("stratum")
      .agg(topk(col("__score"), col("__id"), k).as("tk"))
      .select(col("stratum"), posexplode(col("tk")))
      .select(col("stratum"), (col("pos") + 1).as("pick_rank"),
        col("col.nn_id").as(id))

  /** Per-row weighted Bernoulli keep: keep a row iff its hash fraction
    * (first 12 md5 hex digits / 2^48 — uniform on [0,1), exact in
    * DOUBLE) falls below its weight expression. Deterministic per id, so
    * resampling with a higher rate KEEPS every previously kept row (the
    * rates nest) — the property that lets a pipeline up-sample a source
    * without reshuffling what it already emitted. Pure narrow projection:
    * no shuffle at any scale.
    */
  def weightedKeep(df: DataFrame, id: String, weightExpr: String): DataFrame = {
    require(!df.columns.contains("__frac"),
      "weightedKeep reserves the __frac column")
    df.withColumn("__frac",
        expr(s"conv(substring(md5(CAST($id AS STRING)), 1, 12), 16, 10)")
          .cast("double") / math.pow(2, 48))
      .filter(col("__frac") < expr(weightExpr))
      .drop("__frac")
  }

  /** Temperature-weighted source mixing — the "data mixture" step of a
    * pretraining pipeline: domain d's target share is proportional to
    * count_d^τ with τ = 0.5 (sqrt damping: big domains down-weighted,
    * small ones up-weighted, the standard multilingual/multi-source
    * rebalance), scaled so the whole mix keeps ~`targetFrac` of the
    * corpus. Every row is kept iff its id-hash fraction falls under its
    * domain's rate — deterministic per id (rerun-stable, and rates nest
    * like [[weightedKeep]]).
    *
    * Scale shape: one group-by over the corpus for the counts (tiny
    * result: |domains| rows), rate table broadcast back, then a narrow
    * filter. No corpus re-shuffle.
    *
    * Determinism: sqrt is IEEE-correctly-rounded in any engine; the
    * share denominator sums the per-domain sqrt weights in ASCENDING
    * SORTED order (sort_array + fold) so the double sum is
    * order-deterministic and engine-identical; rates are quantized to
    * integer micro-units and compared against integer hash units, so no
    * float comparison decides membership.
    */
  def temperatureMix(df: DataFrame, domain: String, id: String,
                     targetFrac: Double = 0.5): DataFrame = {
    require(Seq("__units", "__r_units", "__dom").forall(!df.columns.contains(_)),
      "temperatureMix reserves __units/__r_units/__dom")
    val counts = df.groupBy(col(domain)).agg(count(lit(1)).as("__c"))
    // One-row totals frame: n = Σc exact; wsum = Σ sqrt(c) folded in
    // sorted order (|domains| values — a scalar-sized aggregate).
    val totals = counts.agg(
      sum("__c").as("__n"),
      expr("""aggregate(array_sort(collect_list(CAST(sqrt(__c) AS DOUBLE))),
             |  CAST(0.0 AS DOUBLE), (s, x) -> s + x)""".stripMargin)
        .as("__wsum"))
    val rates = counts.crossJoin(broadcast(totals))
      .select(col(domain).as("__dom"),
        expr(s"""CAST(ROUND(1000000 * LEAST(CAST(1.0 AS DOUBLE),
                |  $targetFrac * __n * (sqrt(__c) / __wsum) / __c)) AS BIGINT)"""
          .stripMargin).as("__r_units"))
    // Null-safe join: a NULL domain is a domain like any other (groupBy
    // already counted it as one group); a plain equi-join would silently
    // drop those rows while their weight still inflated the denominator.
    df.join(broadcast(rates), col(domain) <=> col("__dom"))
      .drop("__dom")
      .withColumn("__units",
        expr(s"""pmod(CAST(conv(substring(md5(CAST($id AS STRING)), 1, 12),
                |  16, 10) AS BIGINT), 1000000)""".stripMargin))
      .filter(col("__units") < col("__r_units"))
      .drop("__units")
  }

  /** Deterministic shuffle-and-shard for training-data interleaving:
    * every row lands in a hash-assigned shard, ordered within its shard
    * by (md5, id) — the "shuffle the corpus identically on every rerun,
    * then hand shard files to trainers" step. One shuffle on the shard
    * key and a per-shard sort (the within-shard rank window partitions
    * on shard, so it runs |shards|-way parallel — a GLOBAL rank window
    * would funnel the corpus into one task, the pattern BoundedTopK
    * exists to avoid; shard ranks are what shard files need anyway).
    */
  def deterministicShard(df: DataFrame, id: String, nShards: Int): DataFrame = {
    require(Seq("__h", "shard", "shard_rank").forall(!df.columns.contains(_)),
      "deterministicShard reserves __h/shard/shard_rank")
    df.withColumn("__h", md5(col(id).cast("string")))
      .withColumn("shard",
        expr(s"pmod(conv(substring(__h, 1, 12), 16, 10), $nShards)")
          .cast("int"))
      .withColumn("shard_rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy(col("__h"), col(id))))
      .drop("__h")
  }

  /** Sequence packing (concat-then-chunk): documents are laid end to end
    * in the deterministic shard order and cut into fixed `budget`-token
    * contexts; a document's context is where its span STARTS (spans may
    * cross context boundaries — the standard packed-pretraining layout).
    * One running-sum window per shard (|shards|-way parallel), exact
    * integer arithmetic throughout.
    */
  def packContexts(df: DataFrame, id: String, tokensCol: String,
                   budget: Long, nShards: Int): DataFrame = {
    require(budget > 0 && nShards > 0, "budget and nShards must be positive")
    require(Seq("__h", "__end", "__start", "shard")
        .forall(!df.columns.contains(_)),
      "packContexts reserves __h/__end/__start/shard")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("__h"), col(id))
    df.withColumn("__h", md5(col(id).cast("string")))
      .withColumn("shard",
        expr(s"pmod(conv(substring(__h, 1, 12), 16, 10), $nShards)")
          .cast("int"))
      .withColumn("__end", sum(col(tokensCol)).over(w))
      .withColumn("__start", col("__end") - col(tokensCol))
      .select(col(id), col("shard"),
        // integer division, NOT double-divide-then-cast: DuckDB's
        // double->int cast rounds where Spark's truncates
        expr(s"__start div $budget").as("ctx_id"),
        (col("__start") % budget).as("ctx_offset"))
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * land in the SAME split, or the held-out sets leak training content
    * (the grouped-split discipline of Lee et al. 2022's dedup study and
    * every decontamination protocol; sklearn's GroupShuffleSplit shape).
    * `pairs` is any near-dup pair frame (e.g. [[Dedup.minHashPairs]]);
    * connected components collapse pairs into groups, every doc outside
    * a group is its own singleton, and the split is assigned by portable
    * md5 hash of the GROUP id, so two near-dups can never straddle a
    * split boundary by construction.
    *
    * Ingest stability — precise contract: assignments are stable for
    * singletons and for clusters whose membership (and min-label member)
    * is unchanged between corpus versions. They are NOT stable when a
    * newly ingested doc with a smaller doc_id joins a cluster, or bridges
    * two clusters, because group_id is the component's min label and the
    * merge re-keys at least one side — a previously held-out doc can then
    * move to train. No keying scheme avoids this for merges (any merged
    * group must abandon one side's key); pipelines that require held-out
    * docs to stay held out across versions must pin prior (doc_id, split)
    * assignments and only split NEW docs, treating a pinned member's
    * split as the group's (r10, ADVICE finding).
    *
    * Scale shape: the CC pass is [[Dedup.duplicateClusterMembers]]
    * (checkpointed star contraction, O(log n) rounds, so a long chain
    * of near-dups lands in one group just as a clique does); the split
    * itself is a left join (cluster frame is pair-bounded,
    * broadcastable in practice) plus a narrow hash projection. Returns
    * (doc_id, group_id, split) with buckets 0-7 train / 8 val / 9 test
    * by default.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       trainBuckets: Int = 8, valBuckets: Int = 1)
      : DataFrame = {
    require(trainBuckets > 0 && valBuckets > 0 &&
      trainBuckets + valBuckets < 10, "buckets must partition 0-9")
    // No broadcast hint: the cluster frame is pair-bounded but NOT
    // corpus-independent (a boilerplate-heavy crawl can put a large
    // fraction of docs in clusters). Catalyst broadcasts it while small;
    // stats/AQE pick a shuffle join when it is not.
    val clusters = Dedup.duplicateClusterMembers(pairs)
    docs.select("doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("__b", expr(
        "pmod(CAST(conv(substring(md5(CAST(group_id AS STRING)), 1, 12), 16, 10) AS BIGINT), 10)"))
      .withColumn("split", expr(
        s"""CASE WHEN __b < $trainBuckets THEN 'train'
           |     WHEN __b < ${trainBuckets + valBuckets} THEN 'val'
           |     ELSE 'test' END""".stripMargin))
      .select("doc_id", "group_id", "split")
  }
}

package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef
import graft.catalog.Tables
import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import Sql.{cosOf, duckKmeansCtes, duckProbeCtes, duckQuant,
  duckRankedCentroids, duckSeedsCte}

/** LLM-training-data pipeline corpus: deduplication (exact, MinHash-LSH,
  * SimHash, char-n-gram Jaccard, embedding near-dup), similarity search
  * (brute-force + IVF top-k), text analysis, and multimodal column
  * plumbing. Spark sides are the graft.operators DataFrame modules; the
  * DuckDB oracles re-derive the identical md5-based signatures in list
  * SQL, so every operator is hash-verified, not just row-counted.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Corpus with planted duplicates so exact/simhash dedup has real
    * collapse work (testdata documents are unique at sf0.01).
    */
  private def plantedCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.filter("doc_id % 5 = 0")
      .selectExpr("doc_id + 10000 AS doc_id", "text"))
  }
  private val plantedCorpusSql =
    """SELECT doc_id, text FROM documents
      |UNION ALL
      |SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0""".stripMargin

  // ---------------------------------------------------------------- dedup

  val dedupExact: QueryDef = QueryDef("dedup_exact",
    (s, dir) => Dedup.exact(plantedCorpus(s, dir)),
    Some(s"""WITH corpus AS ($plantedCorpusSql)
            |SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id,
            |  COUNT(*) AS n_copies
            |FROM corpus GROUP BY md5(text)""".stripMargin),
    bench = true)

  /** DuckDB mirror of Dedup's word 3-gram shingle sets: CTEs `words`
    * and `sh(keyCols, s)` over the `(keyCols, text)` relation `from`.
    */
  private def duckShingles(from: String = "documents",
                           keyCols: String = "doc_id"): String =
    s"""words AS (SELECT $keyCols, string_split(text, ' ') AS ws FROM $from),
      |sh AS (SELECT $keyCols,
      |  list_distinct(list_transform(generate_series(1, len(ws) - 2),
      |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
      |  FROM words WHERE len(ws) >= 3)""".stripMargin

  /** CTEs `md`, `mh` and `bands(keyCols, bidx, bval)` over `sh`: the 8
    * minhash slices (4 hex chars each) of the per-shingle md5 and their
    * 4 two-slice band rows per document, with `keyCols` carried through
    * (e.g. "doc_id" or "side, doc_id") — the single source of the
    * signature scheme shared by every minhash oracle.
    */
  private def duckMinhashBands(keyCols: String): String = {
    val slices = (0 until 8).map(i =>
      s"  list_min(list_transform(hs, h -> substr(h, ${4 * i + 1}, 4))) AS h$i")
    val bandRows = (0 until 4).map(b =>
      s"SELECT $keyCols, $b AS bidx, h${2 * b} || h${2 * b + 1} AS bval FROM mh")
    s"""md AS (SELECT $keyCols, list_transform(s, w -> md5(w)) AS hs FROM sh),
       |mh AS (SELECT $keyCols,
       |${slices.mkString(",\n")}
       |FROM md),
       |bands AS (
       |  ${bandRows.mkString("\n  UNION ALL ")})""".stripMargin
  }

  /** Dedup.capBuckets at the operators' default cap of 500, as a
    * QUALIFY clause over a `(…, bidx, bval)` relation.
    */
  private val duckBucketCap =
    "QUALIFY count(*) OVER (PARTITION BY bidx, bval) <= 500"

  /** `cand(doc_a, doc_b)`: the capped band self join of
    * [[Dedup.minHashPairs]] over the doc_id-keyed minhash bands of `sh`.
    */
  private def duckMinhashCand: String =
    s"""${duckMinhashBands("doc_id")},
       |capped AS (SELECT * FROM bands $duckBucketCap),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM capped a JOIN capped b
       |    ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id)""".stripMargin

  /** Exact Jaccard of the DuckDB lists `a` and `b` — Dedup's
    * size(array_intersect) / size(array_union).
    */
  private def duckJaccard(a: String, b: String): String =
    s"len(list_intersect($a, $b)) / len(list_distinct(list_concat($a, $b)))"

  /** The Jaccard-verified `pairs(doc_a, doc_b, jaccard)` over the `sh`
    * and `cand` CTEs — exactly the rows of [[Dedup.minHashPairs]] at its
    * default 0.8 threshold.
    */
  private val duckPairs: String = {
    val j = duckJaccard("a.s", "b.s")
    s"""pairs AS (
       |  SELECT doc_a, doc_b, $j AS jaccard
       |  FROM cand JOIN sh a ON a.doc_id = doc_a JOIN sh b ON b.doc_id = doc_b
       |  WHERE $j >= 0.8)""".stripMargin
  }

  /** `WITH RECURSIVE` head of the connected-components oracles: the
    * planted corpus's verified `pairs`, their recursive transitive
    * closure `tc`, and `lbl(id, lbl)` = the smallest doc_id of each
    * paired document's component — certifying that the Spark side
    * reached the exact fixed point, not just ran.
    */
  private val duckComponents: String =
    s"""WITH RECURSIVE corpus AS ($plantedCorpusSql),
       |${duckShingles("corpus")},
       |$duckMinhashCand,
       |$duckPairs,
       |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |      UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |tc(a, b) AS (
       |  SELECT src, dst FROM e
       |  UNION
       |  SELECT tc.a, e.dst FROM tc JOIN e ON tc.b = e.src),
       |lbl AS (SELECT a AS id, LEAST(a, MIN(b)) AS lbl FROM tc GROUP BY a)""".stripMargin

  /** The hot-bucket audit behind the LSH cap: band buckets whose size
    * exceeds the threshold — exactly the rows [[Dedup.minHashPairs]] at
    * the same parameters would exclude from candidate generation. The
    * production cap (500) never engages on the gate corpora, so the
    * query audits at a low threshold that returns real rows; at 100 TB
    * this is the report a pipeline operator reads before deciding
    * whether the capped families need a dedicated exact-dedup pass.
    */
  val dedupHotBuckets: QueryDef = QueryDef("dedup_hot_buckets",
    (s, dir) => Dedup.hotBuckets(docs(s, dir), maxBucket = 1),
    Some(s"""WITH ${duckShingles()},
            |${duckMinhashBands("doc_id")}
            |SELECT bidx, bval, count(*) AS bucket_size
            |FROM bands GROUP BY bidx, bval HAVING count(*) > 1""".stripMargin))

  val dedupMinhash: QueryDef = QueryDef("dedup_minhash",
    (s, dir) => Dedup.minHashPairs(docs(s, dir)),
    Some(s"""WITH ${duckShingles()},
            |$duckMinhashCand,
            |$duckPairs
            |SELECT doc_a, doc_b, jaccard FROM pairs""".stripMargin),
    bench = true)

  /** DuckDB mirror of the native SimHashFingerprint bit k: md5 digest
    * bit k = bit (3 - k%4) of hex nibble k/4.
    */
  private def duckSimhashBit(k: Int): String =
    s"""CASE WHEN ((instr('0123456789abcdef',
       |  substr(md5(w), ${k / 4 + 1}, 1)) - 1) >> ${3 - k % 4}) & 1 = 1
       |THEN 1 ELSE -1 END""".stripMargin

  private def duckSimhashFp(bits: Int): String =
    (0 until bits).map(k =>
      s"""CASE WHEN list_sum(list_transform(ws, w -> ${duckSimhashBit(k)}))
         |  > 0 THEN '1' ELSE '0' END""".stripMargin).mkString(", ")

  val dedupSimhash: QueryDef = QueryDef("dedup_simhash",
    (s, dir) => Dedup.simHashClusters(plantedCorpus(s, dir)),
    Some(s"""WITH corpus AS ($plantedCorpusSql),
            |words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM corpus),
            |fps AS (SELECT doc_id, concat(${duckSimhashFp(16)}) AS fingerprint
            |        FROM words)
            |SELECT fingerprint, MIN(doc_id) AS keep_id, COUNT(*) AS n_docs
            |FROM fps GROUP BY fingerprint HAVING COUNT(*) > 1""".stripMargin))

  /** STREAMING near-dup dedup: documents as an unbounded stream,
    * SimHash fingerprint per doc, dropDuplicates("fp") state = one key
    * per distinct fingerprint (hard-capped at 2^bits — the streaming
    * dedup whose state cannot grow past the fingerprint space). Runs to
    * completion via AvailableNow; the summary is fingerprint-set level
    * (which DOC represents a family is arrival-order-dependent; the SET
    * of families is not), so the batch oracle re-derives it exactly.
    */
  val streamNearDup: QueryDef = QueryDef("stream_neardup_simhash",
    (s, dir) => graft.streaming.Streams.simhashDedupAvailableNow(s, dir),
    Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
            |              FROM documents),
            |fps AS (SELECT DISTINCT concat(${duckSimhashFp(16)}) AS fp
            |        FROM words)
            |SELECT CAST(COUNT(*) AS BIGINT) AS n_families,
            |  MIN(fp) AS mn_fp, MAX(fp) AS mx_fp,
            |  CAST(SUM(('0x' || substr(md5(fp), 1, 12))::BIGINT) AS BIGINT)
            |    AS fp_checksum
            |FROM fps""".stripMargin))

  val dedupSimhashPairs: QueryDef = QueryDef("dedup_simhash_pairs",
    (s, dir) => Dedup.simHashNearPairs(docs(s, dir)),
    Some {
      s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |fps AS (SELECT doc_id, concat(${duckSimhashFp(32)}) AS fp FROM words),
         |chunked AS (
         |  SELECT doc_id, fp, c AS cidx, substr(fp, c * 8 + 1, 8) AS cval
         |  FROM fps, (SELECT unnest(generate_series(0, 3)) AS c)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.fp AS fa, b.fp AS fb
         |  FROM chunked a JOIN chunked b
         |    ON a.cidx = b.cidx AND a.cval = b.cval AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  len(list_filter(generate_series(1, 32),
         |      i -> substr(fa, i, 1) != substr(fb, i, 1))) AS hamming
         |FROM cand
         |WHERE len(list_filter(generate_series(1, 32),
         |      i -> substr(fa, i, 1) != substr(fb, i, 1))) <= 1""".stripMargin
    })

  val dedupNgram: QueryDef = QueryDef("dedup_ngram_jaccard",
    (s, dir) => Dedup.charNgramJaccard(docs(s, dir)),
    Some(s"""WITH ${duckShingles()},
            |$duckMinhashCand,
            |grams AS (SELECT doc_id,
            |  list_distinct(list_transform(generate_series(1, length(text) - 3),
            |    i -> substr(text, i, 4))) AS g
            |  FROM documents)
            |SELECT doc_a, doc_b, ${duckJaccard("ga.g", "gb.g")} AS char_jaccard
            |FROM cand JOIN grams ga ON ga.doc_id = doc_a
            |          JOIN grams gb ON gb.doc_id = doc_b""".stripMargin))

  /** Incremental ingest dedup: every 7th document re-arrives (as
    * doc_id + 10^9 — an offset past any soak corpus's id range, so
    * incoming ids never collide with existing ones even at 1000×) and is
    * matched against the full existing corpus — incoming-bands ⋈
    * existing-bands only, never corpus × corpus. Each re-arrival is
    * guaranteed to hit its source (jaccard 1.0) plus any of the source's
    * natural near-dups, so the sweep has real positives by construction.
    * The oracle re-derives both sides' MinHash bands with a side tag,
    * caps the existing side's buckets like the operator does, and joins
    * across sides only.
    */
  val dedupIncremental: QueryDef = QueryDef("dedup_incremental",
    (s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalNearDups(d,
        d.filter("doc_id % 7 = 0")
          .selectExpr("doc_id + 1000000000 AS doc_id", "text"))
    },
    Some {
      val j = duckJaccard("a.s", "b.s")
      s"""WITH alld AS (
         |  SELECT 'e' AS side, doc_id, text FROM documents
         |  UNION ALL
         |  SELECT 'n' AS side, doc_id + 1000000000 AS doc_id, text
         |  FROM documents WHERE doc_id % 7 = 0),
         |${duckShingles("alld", "side, doc_id")},
         |${duckMinhashBands("side, doc_id")},
         |ebands AS (SELECT doc_id, bidx, bval FROM bands WHERE side = 'e'
         |  $duckBucketCap),
         |nbands AS (SELECT doc_id, bidx, bval FROM bands WHERE side = 'n'),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, e.doc_id AS old_id
         |  FROM nbands n JOIN ebands e
         |    ON n.bidx = e.bidx AND n.bval = e.bval)
         |SELECT new_id, old_id, $j AS jaccard
         |FROM cand
         |JOIN sh a ON a.side = 'n' AND a.doc_id = new_id
         |JOIN sh b ON b.side = 'e' AND b.doc_id = old_id
         |WHERE $j >= 0.8""".stripMargin
    })

  val dedupEmbedding: QueryDef = QueryDef("dedup_embedding",
    (s, dir) => Similarity.signLshNearDup(embs(s, dir)),
    Some {
      val cos = cosOf("a.qe", "b2.qe")
      s"""WITH b AS (SELECT vec_id, ${duckQuant("embedding")} AS qe
         |  FROM embeddings),
         |bk AS (SELECT vec_id, qe,
         |  array_to_string(list_transform(generate_series(1, 8),
         |    i -> CASE WHEN qe[i] >= 0 THEN '1' ELSE '0' END), '') AS bucket
         |  FROM b)
         |SELECT a.vec_id AS vec_a, b2.vec_id AS vec_b, $cos AS cos_sim
         |FROM bk a JOIN bk b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |WHERE $cos > 0.4""".stripMargin
    })

  /** Multi-band sign-LSH near-dup: OR-amplified recall (any of 4 bands
    * matching makes a candidate) — the banded shape that scales recall
    * without all-pairs.
    */
  val dedupEmbeddingBanded: QueryDef = QueryDef("dedup_embedding_banded",
    (s, dir) => Similarity.signLshBanded(embs(s, dir)),
    Some {
      val cos = cosOf("qa.qe", "qb.qe")
      s"""WITH q AS (SELECT vec_id, ${duckQuant("embedding")} AS qe
         |           FROM embeddings),
         |bands AS (
         |  SELECT vec_id, bidx.b AS bidx,
         |    array_to_string(list_transform(generate_series(1, 8),
         |      i -> CASE WHEN qe[bidx.b * 8 + i] >= 0 THEN '1' ELSE '0' END),
         |      '') AS bval
         |  FROM q, (SELECT unnest(generate_series(0, 3)) AS b) bidx),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b2.vec_id AS vec_b
         |  FROM bands a JOIN bands b2
         |    ON a.bidx = b2.bidx AND a.bval = b2.bval
         |   AND a.vec_id < b2.vec_id)
         |SELECT vec_a, vec_b, $cos AS cos_sim
         |FROM cand
         |JOIN q qa ON qa.vec_id = vec_a
         |JOIN q qb ON qb.vec_id = vec_b
         |WHERE $cos > 0.4""".stripMargin
    })

  // ----------------------------------------------------------- similarity

  private def annQueries(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).filter("vec_id < 10")

  val annTopk: QueryDef = QueryDef("ann_brute_topk",
    (s, dir) => Similarity.bruteForceTopK(embs(s, dir), annQueries(s, dir), 5),
    Some {
      val cos = cosOf("q_emb", "qe")
      s"""WITH q AS (SELECT vec_id AS q_id, ${duckQuant("embedding")} AS q_emb
         |           FROM embeddings WHERE vec_id < 10),
         |c AS (SELECT vec_id, ${duckQuant("embedding")} AS qe FROM embeddings),
         |scored AS (SELECT q_id, vec_id, $cos AS cos_sim
         |           FROM c, q WHERE vec_id <> q_id),
         |ranked AS (SELECT q_id, vec_id, cos_sim,
         |  row_number() OVER (PARTITION BY q_id
         |                     ORDER BY cos_sim DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, rnk, vec_id AS nn_id, cos_sim
         |FROM ranked WHERE rnk <= 5""".stripMargin
    },
    bench = true)

  val annIvf: QueryDef = QueryDef("ann_ivf_topk",
    (s, dir) => Similarity.ivfTopK(embs(s, dir), annQueries(s, dir), 3),
    Some {
      val cos = cosOf("q_emb", "e.qe")
      s"""WITH q AS (SELECT vec_id AS q_id, ${duckQuant("embedding")} AS q_emb,
         |                  label AS q_label
         |           FROM embeddings WHERE vec_id < 10),
         |e0 AS (SELECT vec_id, label, ${duckQuant("embedding")} AS qe
         |       FROM embeddings),
         |scored AS (SELECT q_id, e.vec_id, $cos AS cos_sim
         |           FROM e0 e JOIN q
         |             ON e.label = q.q_label AND e.vec_id <> q.q_id),
         |ranked AS (SELECT q_id, vec_id, cos_sim,
         |  row_number() OVER (PARTITION BY q_id
         |                     ORDER BY cos_sim DESC, vec_id) AS rnk
         |  FROM scored)
         |SELECT q_id, rnk, vec_id AS nn_id, cos_sim
         |FROM ranked WHERE rnk <= 3""".stripMargin
    })

  /** Pairs → clusters: connected components over the MinHash pair graph
    * on the planted corpus (each planted copy links to its original, so
    * there are real multi-doc components), by star contraction. The
    * DuckDB oracle computes true components with a recursive transitive
    * closure.
    */
  val dedupClustersStar: QueryDef = QueryDef("dedup_clusters_star",
    (s, dir) => Dedup.duplicateClusters(Dedup.minHashPairs(plantedCorpus(s, dir))),
    Some(s"""$duckComponents
            |SELECT lbl AS cluster_id, COUNT(*) AS n_docs
            |FROM lbl GROUP BY lbl HAVING COUNT(*) > 1""".stripMargin),
    // Headliner: tracks the pairs→clusters wall-clock (MinHash sweep +
    // O(log n) star-contraction rounds) so the CC path has a bench row.
    bench = true)

  /** Per-document membership of the same components — the
    * (doc_id, cluster_id) frame a pipeline joins against to DROP
    * near-dup losers (`dedup_clusters_star` is its per-cluster
    * aggregate). Oracle: the identical recursive closure WITHOUT the
    * final aggregation, so every document's label is individually
    * certified.
    */
  val dedupClusterMembers: QueryDef = QueryDef("dedup_cluster_members",
    (s, dir) =>
      Dedup.duplicateClusterMembers(Dedup.minHashPairs(plantedCorpus(s, dir))),
    Some(s"""$duckComponents
            |SELECT id AS doc_id, lbl AS cluster_id FROM lbl""".stripMargin))

  /** Decontamination sweep: holdout = every 5th document, train = the
    * rest; which training docs share any (non-boilerplate) word 8-gram
    * with the holdout set. The fixture carries ~1k naturally shared
    * 8-grams, so the sweep has real positives.
    */
  val decontaminate: QueryDef = QueryDef("pipeline_decontaminate",
    (s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.filter("doc_id % 5 != 0"), d.filter("doc_id % 5 = 0"))
    },
    Some("""WITH g AS (
           |  SELECT doc_id, unnest(list_distinct(list_transform(
           |    generate_series(1, len(string_split(text, ' ')) - 7),
           |    i -> md5(array_to_string(string_split(text, ' ')[i:i+7], ' '))
           |  ))) AS g
           |  FROM documents
           |  WHERE len(string_split(text, ' ')) >= 8),
           |t AS (SELECT doc_id AS train_id, g FROM g WHERE doc_id % 5 <> 0),
           |h AS (SELECT doc_id AS holdout_id, g FROM g WHERE doc_id % 5 = 0),
           |hk AS (SELECT h.holdout_id, h.g FROM h JOIN (
           |         SELECT g FROM h GROUP BY g
           |         HAVING COUNT(DISTINCT holdout_id) <= 100) f ON h.g = f.g)
           |SELECT train_id, COUNT(DISTINCT t.g) AS n_shared_grams,
           |  COUNT(DISTINCT holdout_id) AS n_holdout_docs
           |FROM t JOIN hk ON t.g = hk.g
           |GROUP BY train_id""".stripMargin))

  /** DuckDB mirror of Similarity.ivfKmeansTopK: the full CTE chain —
    * quantize, seed, assign (argmax cosine, ties to smaller cid), one
    * Lloyd step (floor of per-dim mean back onto the integer grid),
    * re-assign, probe nprobe centroids, score inside probed lists. Every
    * comparison runs over exact integral doubles, so assignments, probes
    * and final rankings are bit-identical to the Spark side.
    */
  private def duckIvfCtes(kCent: Int, nprobe: Int): String =
    s"""c AS (SELECT vec_id, ${duckQuant("embedding")} AS qe FROM embeddings),
       |${duckKmeansCtes("c", kCent)},
       |${duckRankedCentroids("a2", "a.vec_id, s.cid", "c", "cent")},
       |asg2 AS (SELECT vec_id, cid FROM a2 WHERE rn = 1),
       |pq AS (SELECT vec_id AS q_id, qe FROM c WHERE vec_id < 10),
       |${duckProbeCtes("pq", "cent", nprobe)},
       |iscored AS (SELECT p.q_id, e.vec_id,
       |              ${cosOf("p.q_emb", "e2.qe")} AS cos_sim
       |            FROM asg2 e JOIN c e2 ON e2.vec_id = e.vec_id
       |            JOIN probes p ON e.cid = p.cid AND e.vec_id <> p.q_id),
       |iranked AS (SELECT q_id, vec_id, cos_sim,
       |              row_number() OVER (PARTITION BY q_id
       |                                 ORDER BY cos_sim DESC, vec_id) AS rnk
       |            FROM iscored)""".stripMargin

  val annIvfKmeans: QueryDef = QueryDef("ann_ivf_kmeans",
    (s, dir) => Similarity.ivfKmeansTopK(embs(s, dir), annQueries(s, dir), 3),
    Some(s"""WITH ${duckIvfCtes(8, 2)}
            |SELECT q_id, rnk, vec_id AS nn_id, cos_sim
            |FROM iranked WHERE rnk <= 3""".stripMargin),
    bench = true)

  /** Recall@3 of the k-means IVF against the exact brute-force answer —
    * the measurement a user tunes numCentroids/nprobe with. Both sides are
    * fully deterministic, so even this meta-metric is hash-verified.
    */
  val annIvfRecall: QueryDef = QueryDef("ann_ivf_recall",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val brute = Similarity.bruteForceTopK(embs(s, dir), annQueries(s, dir), 3)
        .select(col("q_id"), col("nn_id"))
      val ivf = Similarity.ivfKmeansTopK(embs(s, dir), annQueries(s, dir), 3)
        .select(col("q_id"), col("nn_id"), lit(1).as("hit"))
      // Both sides are |queries|·k rows by construction, but Spark's
      // size fallback (no stats through the top-k aggregates) prices
      // them huge and plans a sort-merge join; the broadcast is the
      // plan this k-bounded compare deserves at any corpus size.
      brute.join(broadcast(ivf), Seq("q_id", "nn_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("n_true"), col("n_hit"),
          (col("n_hit") / col("n_true")).cast("double").as("recall"))
    },
    Some {
      val cos = cosOf("q_emb", "e.qe")
      s"""WITH ${duckIvfCtes(8, 2)},
         |bq AS (SELECT vec_id AS q_id, qe AS q_emb FROM c WHERE vec_id < 10),
         |bscored AS (SELECT q_id, e.vec_id, $cos AS cos_sim
         |            FROM c e, bq WHERE e.vec_id <> q_id),
         |branked AS (SELECT q_id, vec_id,
         |              row_number() OVER (PARTITION BY q_id
         |                                 ORDER BY cos_sim DESC, vec_id) AS rnk
         |            FROM bscored),
         |brute AS (SELECT q_id, vec_id FROM branked WHERE rnk <= 3),
         |ivf AS (SELECT q_id, vec_id FROM iranked WHERE rnk <= 3)
         |SELECT COUNT(*) AS n_true,
         |  CAST(SUM(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS BIGINT) AS n_hit,
         |  CAST(SUM(CASE WHEN ivf.q_id IS NOT NULL THEN 1 ELSE 0 END)
         |       AS DOUBLE) / COUNT(*) AS recall
         |FROM brute LEFT JOIN ivf
         |  ON brute.q_id = ivf.q_id AND brute.vec_id = ivf.vec_id""".stripMargin
    })

  /** DuckDB mirror of Similarity.pqTopK: quantize, slice into m=8
    * subspaces, seed sub-codebooks from the 16 smallest vec_ids (cid =
    * dense 0-based rank of the seed's vec_id, mirroring pqCodebook's
    * positional contract), encode by argmin L2 (ties to the smaller
    * cid), then ADC-score as the sum over subspaces of dot(query
    * subvector, assigned codeword). Every distance/score is an exact
    * integer sum on the quantized grid, so codes and rankings are
    * bit-identical to the Spark side. `subDim` is derived (64 / m) so
    * the slicing can never silently disagree with the subspace count.
    */
  private def duckPqHead(m: Int, subDim: Int): String =
    s"""c AS (SELECT vec_id, ${duckQuant("embedding")} AS qe FROM embeddings),
       |sub AS (SELECT vec_id, j,
       |          qe[j * $subDim + 1 : j * $subDim + $subDim] AS sv
       |        FROM c, (SELECT unnest(generate_series(0, ${m - 1})) AS j) js)""".stripMargin

  /** The seeded codeword set (dense 0-based cids), named `name`. */
  private def duckPqSeeds(name: String, ks: Int): String =
    s"""$name AS (SELECT j,
       |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
       |              AS INT) AS cid, sv AS cw
       |       FROM sub WHERE vec_id < $ks)""".stripMargin

  /** Encode + ADC + rank against the codebook CTE named `cb` — the
    * shared tail of the seeded and k-means-trained PQ oracles.
    */
  private def duckPqTail(subDim: Int): String =
    s"""encr AS (SELECT s.vec_id, s.j, cb.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j
       |             ORDER BY list_sum(list_transform(generate_series(1, $subDim),
       |               i -> (s.sv[i] - cb.cw[i]) * (s.sv[i] - cb.cw[i]))),
       |               cb.cid) AS rn
       |         FROM sub s JOIN cb ON s.j = cb.j),
       |enc AS (SELECT vec_id, j, cid FROM encr WHERE rn = 1),
       |qq AS (SELECT vec_id AS q_id, qe FROM c WHERE vec_id < 10),
       |qsub AS (SELECT vec_id AS q_id, j, sv FROM sub WHERE vec_id < 10),
       |adc AS (SELECT q.q_id, e.vec_id,
       |          SUM(list_sum(list_transform(generate_series(1, $subDim),
       |            i -> q.sv[i] * cb.cw[i]))) AS adc_dot
       |        FROM enc e JOIN cb ON e.j = cb.j AND e.cid = cb.cid
       |        JOIN qsub q ON q.j = e.j
       |        WHERE e.vec_id <> q.q_id
       |        GROUP BY q.q_id, e.vec_id),
       |pqranked AS (SELECT q_id, vec_id, adc_dot,
       |               row_number() OVER (PARTITION BY q_id
       |                 ORDER BY adc_dot DESC, vec_id) AS rnk
       |             FROM adc)""".stripMargin

  private def duckPqCtes(m: Int = 8, ks: Int = 16): String = {
    require(64 % m == 0, s"m=$m must divide the embedding dim 64")
    val subDim = 64 / m
    s"""${duckPqHead(m, subDim)},
       |${duckPqSeeds("cb", ks)},
       |${duckPqTail(subDim)}""".stripMargin
  }

  /** The k-means-trained variant: assign every subvector to its nearest
    * seed codeword, take one Lloyd step (floor of the per-dim mean back
    * onto the integer grid), keep the seed codeword for empty clusters,
    * then the same encode/ADC tail.
    */
  private def duckPqKmeansCtes(m: Int = 8, ks: Int = 16): String = {
    require(64 % m == 0, s"m=$m must divide the embedding dim 64")
    val subDim = 64 / m
    s"""${duckPqHead(m, subDim)},
       |${duckPqSeeds("cb0", ks)},
       |asgr AS (SELECT s.vec_id, s.j, s.sv, cb0.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j
       |             ORDER BY list_sum(list_transform(generate_series(1, $subDim),
       |               i -> (s.sv[i] - cb0.cw[i]) * (s.sv[i] - cb0.cw[i]))),
       |               cb0.cid) AS rn
       |         FROM sub s JOIN cb0 ON s.j = cb0.j),
       |asg AS (SELECT j, cid, sv FROM asgr WHERE rn = 1),
       |cent AS (SELECT j, cid, list(fd ORDER BY d) AS cw FROM (
       |           SELECT j, cid, d,
       |                  CAST(FLOOR(SUM(sv[d]) / COUNT(*)) AS DOUBLE) AS fd
       |           FROM asg, (SELECT unnest(generate_series(1, $subDim)) AS d) dims
       |           GROUP BY j, cid, d) GROUP BY j, cid),
       |cb AS (SELECT s.j, s.cid, COALESCE(c.cw, s.cw) AS cw
       |       FROM cb0 s LEFT JOIN cent c ON c.j = s.j AND c.cid = s.cid),
       |${duckPqTail(subDim)}""".stripMargin
  }

  /** IVF-PQ mirror: seeded coarse centroids route vectors to lists and
    * queries to nprobe lists (argmax cosine, ties to the smaller cid —
    * raw centroid ids are pure JOIN keys here, never positional), then
    * the PQ encode/ADC runs restricted to probed lists.
    */
  private def duckIvfPqCtes(numCent: Int = 8, nprobe: Int = 2,
                            m: Int = 8, ks: Int = 16): String = {
    require(64 % m == 0, s"m=$m must divide the embedding dim 64")
    val subDim = 64 / m
    s"""${duckPqHead(m, subDim)},
       |${duckPqSeeds("cb", ks)},
       |${duckSeedsCte("c", numCent)},
       |${duckRankedCentroids("lasgr", "a.vec_id, s.cid AS ccid", "c", "seeds")},
       |lists AS (SELECT vec_id, ccid FROM lasgr WHERE rn = 1),
       |qq AS (SELECT vec_id AS q_id, qe FROM c WHERE vec_id < 10),
       |${duckProbeCtes("qq", "seeds", nprobe)},
       |encr AS (SELECT s.vec_id, s.j, cb.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j
       |             ORDER BY list_sum(list_transform(generate_series(1, $subDim),
       |               i -> (s.sv[i] - cb.cw[i]) * (s.sv[i] - cb.cw[i]))),
       |               cb.cid) AS rn
       |         FROM sub s JOIN cb ON s.j = cb.j),
       |enc AS (SELECT vec_id, j, cid FROM encr WHERE rn = 1),
       |qsub AS (SELECT vec_id AS q_id, j, sv FROM sub WHERE vec_id < 10),
       |adc AS (SELECT q.q_id, e.vec_id,
       |          SUM(list_sum(list_transform(generate_series(1, $subDim),
       |            i -> q.sv[i] * cb.cw[i]))) AS adc_dot
       |        FROM enc e JOIN cb ON e.j = cb.j AND e.cid = cb.cid
       |        JOIN lists l ON l.vec_id = e.vec_id
       |        JOIN probes p ON p.cid = l.ccid
       |        JOIN qsub q ON q.j = e.j AND q.q_id = p.q_id
       |        WHERE e.vec_id <> p.q_id
       |        GROUP BY q.q_id, e.vec_id),
       |pqranked AS (SELECT q_id, vec_id, adc_dot,
       |               row_number() OVER (PARTITION BY q_id
       |                 ORDER BY adc_dot DESC, vec_id) AS rnk
       |             FROM adc)""".stripMargin
  }

  /** IVF-PQ top-k — coarse lists + PQ codes, the billion-scale serving
    * index: at rest m bytes + one int per vector, per query nprobe list
    * scans of O(m) lookups.
    */
  val annIvfPq: QueryDef = QueryDef("ann_ivf_pq",
    (s, dir) => Similarity.ivfPqTopK(embs(s, dir), annQueries(s, dir), 3),
    Some(s"""WITH ${duckIvfPqCtes()}
            |SELECT q_id, rnk, vec_id AS nn_id, adc_dot
            |FROM pqranked WHERE rnk <= 3""".stripMargin),
    bench = true)

  /** Residual IVF-PQ mirror (true IVFADC): the codebook is seeded from
    * and encodes RESIDUALS (qe − assigned coarse centroid, exact integer
    * grid), the LUT scores residual codewords against the RAW query, and
    * each probe adds its dot(q, ce) offset back into the score.
    */
  private def duckIvfPqResidualCtes(numCent: Int = 8, nprobe: Int = 2,
                                    m: Int = 8, ks: Int = 16): String = {
    require(64 % m == 0, s"m=$m must divide the embedding dim 64")
    val subDim = 64 / m
    s"""${duckPqHead(m, subDim)},
       |${duckKmeansCtes("c", numCent)},
       |${duckRankedCentroids("lasgr", "a.vec_id, s.cid AS ccid", "c", "cent")},
       |lists AS (SELECT vec_id, ccid FROM lasgr WHERE rn = 1),
       |rc AS (SELECT c.vec_id, l.ccid,
       |         list_transform(generate_series(1, 64),
       |           i -> c.qe[i] - co.ce[i]) AS qe
       |       FROM c JOIN lists l ON l.vec_id = c.vec_id
       |       JOIN cent co ON co.cid = l.ccid),
       |rsub AS (SELECT vec_id, j,
       |           qe[j * $subDim + 1 : j * $subDim + $subDim] AS sv
       |         FROM rc, (SELECT unnest(generate_series(0, ${m - 1})) AS j) js),
       |cb AS (SELECT j,
       |         CAST(row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1
       |              AS INT) AS cid, sv AS cw
       |       FROM rsub WHERE vec_id < $ks),
       |encr AS (SELECT s.vec_id, s.j, cb.cid,
       |           row_number() OVER (PARTITION BY s.vec_id, s.j
       |             ORDER BY list_sum(list_transform(generate_series(1, $subDim),
       |               i -> (s.sv[i] - cb.cw[i]) * (s.sv[i] - cb.cw[i]))),
       |               cb.cid) AS rn
       |         FROM rsub s JOIN cb ON s.j = cb.j),
       |enc AS (SELECT vec_id, j, cid FROM encr WHERE rn = 1),
       |qq AS (SELECT vec_id AS q_id, qe FROM c WHERE vec_id < 10),
       |qsub AS (SELECT vec_id AS q_id, j, sv FROM sub WHERE vec_id < 10),
       |${duckProbeCtes("qq", "cent", nprobe)},
       |adc AS (SELECT q.q_id, e.vec_id,
       |          p.qdot + SUM(list_sum(list_transform(generate_series(1, $subDim),
       |            i -> q.sv[i] * cb.cw[i]))) AS adc_dot
       |        FROM enc e JOIN cb ON e.j = cb.j AND e.cid = cb.cid
       |        JOIN lists l ON l.vec_id = e.vec_id
       |        JOIN probes p ON p.cid = l.ccid
       |        JOIN qsub q ON q.j = e.j AND q.q_id = p.q_id
       |        WHERE e.vec_id <> p.q_id
       |        GROUP BY q.q_id, e.vec_id, p.qdot),
       |pqranked AS (SELECT q_id, vec_id, adc_dot,
       |               row_number() OVER (PARTITION BY q_id
       |                 ORDER BY adc_dot DESC, vec_id) AS rnk
       |             FROM adc)""".stripMargin
  }

  /** Residual IVF-PQ top-k — the true-IVFADC accuracy refinement at the
    * identical m × ks code budget; recall-vs-non-residual gated by
    * SimilaritySpec.
    */
  val annIvfPqResidual: QueryDef = QueryDef("ann_ivf_pq_residual",
    (s, dir) => Similarity.ivfPqResidualTopK(embs(s, dir), annQueries(s, dir), 3),
    Some(s"""WITH ${duckIvfPqResidualCtes()}
            |SELECT q_id, rnk, vec_id AS nn_id, adc_dot
            |FROM pqranked WHERE rnk <= 3""".stripMargin),
    bench = true)

  /** PQ/ADC approximate top-k — the 100 TB ANN memory path (m bytes per
    * vector at rest instead of 4·dim; O(m) table lookups per candidate
    * instead of a dim-length dot).
    */
  val annPq: QueryDef = QueryDef("ann_pq_topk",
    (s, dir) => Similarity.pqTopK(embs(s, dir), annQueries(s, dir), 3),
    Some(s"""WITH ${duckPqCtes()}
            |SELECT q_id, rnk, vec_id AS nn_id, adc_dot
            |FROM pqranked WHERE rnk <= 3""".stripMargin))

  /** PQ/ADC with a TRAINED codebook — one Lloyd refinement of the
    * sub-codebooks on the integral grid before encoding; the closest
    * shape to production PQ (which iterates the same step on a sample).
    */
  val annPqKmeans: QueryDef = QueryDef("ann_pq_kmeans",
    (s, dir) => Similarity.pqKmeansTopK(embs(s, dir), annQueries(s, dir), 3),
    Some(s"""WITH ${duckPqKmeansCtes()}
            |SELECT q_id, rnk, vec_id AS nn_id, adc_dot
            |FROM pqranked WHERE rnk <= 3""".stripMargin))

  /** PQ shortlist (ADC top-10) + exact cosine re-rank to top-3 — the
    * production serving shape: the exact pass touches only
    * |queries| × shortlist rows, independent of corpus size.
    */
  val annPqRerank: QueryDef = QueryDef("ann_pq_rerank",
    (s, dir) => Similarity.pqRerankTopK(embs(s, dir), annQueries(s, dir), 3),
    Some {
      val cos = cosOf("qq.qe", "e.qe")
      s"""WITH ${duckPqCtes()},
         |rr AS (SELECT p.q_id, p.vec_id, $cos AS cos_sim
         |       FROM pqranked p
         |       JOIN c e ON e.vec_id = p.vec_id
         |       JOIN qq ON qq.q_id = p.q_id
         |       WHERE p.rnk <= 10),
         |rrk AS (SELECT q_id, vec_id, cos_sim,
         |          row_number() OVER (PARTITION BY q_id
         |            ORDER BY cos_sim DESC, vec_id) AS rnk
         |        FROM rr)
         |SELECT q_id, rnk, vec_id AS nn_id, cos_sim
         |FROM rrk WHERE rnk <= 3""".stripMargin
    })

  /** Recall@3 of PQ/ADC against the exact inner-product answer (ADC
    * approximates the dot, so exact-dot — not cosine — is the control).
    * Fully deterministic on both sides, so the meta-metric hash-verifies.
    */
  val annPqRecall: QueryDef = QueryDef("ann_pq_recall",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val exact = Similarity.dotTopK(embs(s, dir), annQueries(s, dir), 3)
        .select(col("q_id"), col("nn_id"))
      val pq = Similarity.pqTopK(embs(s, dir), annQueries(s, dir), 3)
        .select(col("q_id"), col("nn_id"), lit(1).as("hit"))
      // |queries|·k rows by construction — broadcast the compare side
      // (same rationale as ann_ivf_recall).
      exact.join(broadcast(pq), Seq("q_id", "nn_id"), "left")
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit"))
        .select(col("n_true"), col("n_hit"),
          (col("n_hit") / col("n_true")).cast("double").as("recall"))
    },
    Some(s"""WITH ${duckPqCtes()},
            |dscored AS (SELECT q_id, e.vec_id,
            |              list_dot_product(qq.qe, e.qe) AS dotv
            |            FROM c e, qq WHERE e.vec_id <> qq.q_id),
            |dranked AS (SELECT q_id, vec_id,
            |              row_number() OVER (PARTITION BY q_id
            |                ORDER BY dotv DESC, vec_id) AS rnk
            |            FROM dscored),
            |dtop AS (SELECT q_id, vec_id FROM dranked WHERE rnk <= 3),
            |ptop AS (SELECT q_id, vec_id FROM pqranked WHERE rnk <= 3)
            |SELECT COUNT(*) AS n_true,
            |  CAST(SUM(CASE WHEN ptop.q_id IS NOT NULL THEN 1 ELSE 0 END)
            |       AS BIGINT) AS n_hit,
            |  CAST(SUM(CASE WHEN ptop.q_id IS NOT NULL THEN 1 ELSE 0 END)
            |       AS DOUBLE) / COUNT(*) AS recall
            |FROM dtop LEFT JOIN ptop
            |  ON dtop.q_id = ptop.q_id AND dtop.vec_id = ptop.vec_id""".stripMargin))

  // -------------------------------------------------------- text analysis

  private val duckStop = TextAnalysis.stopwords.map(w => s"'$w'").mkString(", ")

  val textStats: QueryDef = QueryDef("text_stats",
    (s, dir) => TextAnalysis.stats(docs(s, dir)),
    Some(s"""SELECT doc_id,
            |  length(text) AS char_len,
            |  len(string_split(text, ' ')) AS n_words,
            |  len(list_distinct(string_split(text, ' '))) AS n_types,
            |  len(list_distinct(string_split(text, ' '))) /
            |    len(string_split(text, ' ')) AS ttr,
            |  length(replace(text, ' ', '')) /
            |    len(string_split(text, ' ')) AS avg_word_len,
            |  len(list_filter(string_split(text, ' '), w -> w IN ($duckStop))) /
            |    len(string_split(text, ' ')) AS stopword_ratio
            |FROM documents""".stripMargin),
    bench = true)

  val textLangid: QueryDef = QueryDef("text_langid",
    (s, dir) => TextAnalysis.langId(docs(s, dir)),
    Some(s"""SELECT doc_id, lang,
            |  len(list_filter(string_split(text, ' '), w -> w IN ($duckStop))) AS s_en,
            |  CASE WHEN len(list_filter(string_split(text, ' '),
            |                            w -> w IN ($duckStop))) > 0
            |       THEN 'en' ELSE 'und' END AS pred_lang
            |FROM documents""".stripMargin))

  val textTokens: QueryDef = QueryDef("text_tokens",
    (s, dir) => TextAnalysis.tokens(docs(s, dir)),
    Some("""SELECT doc_id,
           |  len(string_split(text, ' ')) AS n_ws_tokens,
           |  len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS n_re_tokens,
           |  length(text) / len(regexp_extract_all(text, '[a-z]+|[0-9]+'))
           |    AS bytes_per_token
           |FROM documents""".stripMargin))

  /** Quality filtering — the canonical pre-training corpus gate: keep
    * docs passing length/diversity/stopword thresholds.
    */
  val textQualityFilter: QueryDef = QueryDef("text_quality_filter",
    (s, dir) => TextAnalysis.stats(docs(s, dir))
      .filter("n_words >= 20 AND ttr > 0.2 AND stopword_ratio < 0.2")
      .select("doc_id", "n_words", "ttr", "stopword_ratio"),
    Some(s"""SELECT doc_id,
            |  len(string_split(text, ' ')) AS n_words,
            |  len(list_distinct(string_split(text, ' '))) /
            |    len(string_split(text, ' ')) AS ttr,
            |  len(list_filter(string_split(text, ' '), w -> w IN ($duckStop))) /
            |    len(string_split(text, ' ')) AS stopword_ratio
            |FROM documents
            |WHERE len(string_split(text, ' ')) >= 20
            |  AND len(list_distinct(string_split(text, ' '))) /
            |    len(string_split(text, ' ')) > 0.2
            |  AND len(list_filter(string_split(text, ' '), w -> w IN ($duckStop))) /
            |    len(string_split(text, ' ')) < 0.2""".stripMargin))

  /** Gopher-style repetition rules (top-word fraction, duplicate-2-gram
    * fraction + pass flag). The Spark side computes the top-word count
    * INSIDE the row (sorted-run fold, zero shuffle); the oracle
    * re-derives it relationally (unnest + group-by) — equality proves
    * the narrow fold is exactly the mode count.
    */
  val textRepetition: QueryDef = QueryDef("text_repetition",
    (s, dir) => TextAnalysis.repetition(docs(s, dir)),
    Some("""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |           FROM documents),
           |cnt AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
           |top AS (SELECT doc_id, CAST(MAX(c) AS INT) AS top_word_n
           |        FROM cnt GROUP BY doc_id),
           |base AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
           |g AS (SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
           |        CAST(len(list_distinct(list_transform(
           |          generate_series(1, len(ws) - 1),
           |          i -> ws[i] || ' ' || ws[i + 1]))) AS INT) AS d2
           |      FROM base WHERE len(ws) >= 2)
           |SELECT g.doc_id, n_words, top_word_n,
           |  top_word_n / n_words AS top_word_frac,
           |  1 - d2 / (n_words - 1) AS dup_2gram_frac,
           |  CASE WHEN top_word_n / n_words <= 0.2
           |        AND 1 - d2 / (n_words - 1) <= 0.6
           |  THEN 1 ELSE 0 END AS passes
           |FROM g JOIN top ON g.doc_id = top.doc_id""".stripMargin))

  /** PII redaction over synthesized contact strings (the testdata corpus
    * carries no PII, so the fixture plants an email + phone-shaped
    * digit runs per customer; c_name's own 9-digit serial is a third
    * hit). Counts are raw-text hits; redaction masks emails first, then
    * remaining long digit runs.
    */
  val piiRedact: QueryDef = QueryDef("pipeline_pii_redact",
    (s, dir) => TextAnalysis.redactPii(
      Tables.load(s, dir, "customer").selectExpr("c_custkey",
        """concat(c_name, ' reachable at user', CAST(c_custkey AS STRING),
          |'@example.com or +1', lpad(CAST(c_custkey % 100000000 AS STRING),
          |8, '0'))  AS contact""".stripMargin),
      "contact").select("c_custkey", "n_digit_runs", "n_emails", "redacted"),
    Some("""WITH t AS (SELECT c_custkey,
           |  c_name || ' reachable at user' || CAST(c_custkey AS VARCHAR)
           |    || '@example.com or +1'
           |    || lpad(CAST(c_custkey % 100000000 AS VARCHAR), 8, '0') AS contact
           |  FROM customer)
           |SELECT c_custkey,
           |  CAST(len(regexp_extract_all(contact, '[0-9]{4,}')) AS INT)
           |    AS n_digit_runs,
           |  CAST(len(regexp_extract_all(contact, '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+'))
           |    AS INT) AS n_emails,
           |  regexp_replace(regexp_replace(contact,
           |    '[a-zA-Z0-9.]+@[a-zA-Z0-9.]+', '<EMAIL>', 'g'),
           |    '[0-9]{4,}', '<NUM>', 'g') AS redacted
           |FROM t""".stripMargin))

  val textFingerprint: QueryDef = QueryDef("text_fingerprint",
    (s, dir) => TextAnalysis.fingerprint(docs(s, dir)),
    Some("""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
           |    AS vocab_fp,
           |  md5(substr(text, 1, 32)) AS prefix_fp
           |FROM documents""".stripMargin))

  // ----------------------------------------------------------- multimodal

  /** Real-format image-header decode (r10): the Spark side builds genuine
    * PNG/JPEG byte streams (even doc_id → PNG, odd → JPEG; dims from the
    * body length; CRC'd IHDR) and recovers the fields by PARSING that
    * structure — the oracle re-derives the same fields arithmetically
    * from the planted derivation (header lengths 33/23, dims mod 509,
    * b0 = first body byte), so a parser that misreads any offset
    * hash-mismatches.
    */
  val multimodal: QueryDef = QueryDef("multimodal_decode",
    (s, dir) => Multimodal.decodeDocuments(s, docs(s, dir)),
    Some("""SELECT doc_id,
           |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
           |  CAST(octet_length(encode(text)) % 509 + 1 AS INT) AS width,
           |  CAST((octet_length(encode(text)) // 509) % 509 + 1 AS INT)
           |    AS height,
           |  CAST(octet_length(encode(text))
           |    + CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 23 END AS INT)
           |    AS n_bytes,
           |  CAST(CASE WHEN octet_length(encode(text)) > 0
           |       THEN ascii(substr(text, 1, 1)) ELSE -1 END AS INT) AS b0
           |FROM documents""".stripMargin))

  /** Real PIXEL decode (r11, closing the "bodies are stand-ins" caveat
    * without native codecs): the Spark side builds genuine binary PPMs
    * (P6 — uncompressed, so pure-JVM end-to-end decodable; raster = the
    * utf-8 text bytes tiled across 3·w·h), parses the header
    * (comment-tolerant) and aggregates the ACTUAL raster — sum, min,
    * max, mean over every pixel byte. The oracle re-derives the same
    * statistics from the text column alone (per-byte values via hex
    * digits, tiling as full-cycles·sum + prefix), so a decoder that
    * misplaces the raster offset or drops a byte hash-mismatches.
    */
  val multimodalPixels: QueryDef = QueryDef("multimodal_pixels",
    (s, dir) => Multimodal.pixelStatsDocuments(s,
      docs(s, dir).filter("octet_length(encode(text, 'UTF-8')) > 0")),
    Some("""WITH base AS (
           |  SELECT doc_id, octet_length(encode(text)) AS n,
           |    hex(encode(text)) AS hs,
           |    CAST(octet_length(encode(text)) % 509 + 1 AS INT) AS w,
           |    CAST((octet_length(encode(text)) // 509) % 509 + 1 AS INT)
           |      AS h
           |  FROM documents WHERE octet_length(encode(text)) > 0),
           |tiled AS (
           |  SELECT doc_id, n, w, h, (3*w*h) // n AS fl, (3*w*h) % n AS r,
           |    hs
           |  FROM base),
           |bytes AS (
           |  SELECT doc_id, w, h, fl, r,
           |    list_transform(range(1, n + 1), j ->
           |      16*(CASE WHEN hs[CAST(2*j-1 AS INT)] >= 'A'
           |            THEN ascii(hs[CAST(2*j-1 AS INT)])-55
           |            ELSE ascii(hs[CAST(2*j-1 AS INT)])-48 END)
           |        + (CASE WHEN hs[CAST(2*j AS INT)] >= 'A'
           |            THEN ascii(hs[CAST(2*j AS INT)])-55
           |            ELSE ascii(hs[CAST(2*j AS INT)])-48 END)) AS bs
           |  FROM tiled)
           |SELECT doc_id, w AS width, h AS height,
           |  CAST(w*h AS BIGINT) AS n_pixels,
           |  CAST(fl * list_sum(bs)
           |    + COALESCE(list_sum(bs[1:CAST(r AS INT)]), 0) AS BIGINT)
           |    AS px_sum,
           |  CAST(CASE WHEN fl >= 1 THEN list_min(bs)
           |       ELSE list_min(bs[1:CAST(r AS INT)]) END AS INT) AS px_min,
           |  CAST(CASE WHEN fl >= 1 THEN list_max(bs)
           |       ELSE list_max(bs[1:CAST(r AS INT)]) END AS INT) AS px_max,
           |  (fl * list_sum(bs)
           |    + COALESCE(list_sum(bs[1:CAST(r AS INT)]), 0)) / (3.0*w*h)
           |    AS px_mean
           |FROM bytes""".stripMargin))

  /** Real COMPRESSED-PNG pixel decode (r12): same tiled raster and the
    * same oracle as `multimodal_pixels`, but the payload is a complete
    * spec-conformant PNG — zlib-deflated IDAT, all five scanline filter
    * types rotating per row, CRC'd chunks — encoded and decoded
    * end-to-end on the JVM's own zlib (PNG's compression IS RFC-1950
    * zlib, so no native codec is involved). A decoder that misreads a
    * chunk boundary, mis-inflates, or botches any filter's reverse
    * transform corrupts the statistics and hash-mismatches the oracle.
    */
  val multimodalPixelsPng: QueryDef = QueryDef("multimodal_pixels_png",
    (s, dir) => Multimodal.pngPixelStatsDocuments(s,
      docs(s, dir).filter("octet_length(encode(text, 'UTF-8')) > 0")),
    multimodalPixels.oracle)

  /** End-to-end corpus preparation — the composed pre-training shape:
    * exact-dedup the (planted) corpus, keep each cluster's canonical
    * doc, apply the quality gate, then report per-language surviving
    * doc/token volume. One dedup shuffle + one narrow quality pass +
    * one stats shuffle — the whole thing is three stages at any scale.
    */
  val corpusPrep: QueryDef = QueryDef("pipeline_corpus_prep",
    (s, dir) => {
      val d = docs(s, dir).select("doc_id", "text", "lang")
      // Checkpointed once: three consumers (exact dedup, the canonical
      // text join, the language join) otherwise each re-scan the
      // text-heavy documents source — 6 file scans measured in the
      // initial plan, dedup'd only if ReuseExchange fires. One scan of
      // the lake's fattest table, guaranteed. Lazy, the measured
      // faster choice (BASELINE.md): it materializes during whichever
      // consumer job fires first, where eager pays one dedicated
      // materialization job up front.
      val corpus = d.unionByName(d.filter("doc_id % 5 = 0")
        .selectExpr("doc_id + 10000 AS doc_id", "text", "lang"))
        .localCheckpoint(eager = false)
      val canonical = Dedup.exact(corpus)
        .join(corpus, org.apache.spark.sql.functions.expr("keep_id = doc_id"))
      val quality = TextAnalysis.stats(
          canonical.select("doc_id", "text"))
        .filter("n_words >= 20 AND ttr > 0.2 AND stopword_ratio < 0.2")
      quality.join(corpus.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(org.apache.spark.sql.functions.count("*").as("n_docs"),
          org.apache.spark.sql.functions.expr(
            "CAST(SUM(n_words) AS BIGINT)").as("n_tokens"))
    },
    Some(s"""WITH corpus AS (
            |  SELECT doc_id, text, lang FROM documents
            |  UNION ALL
            |  SELECT doc_id + 10000, text, lang FROM documents
            |  WHERE doc_id % 5 = 0),
            |canon AS (
            |  SELECT MIN(doc_id) AS doc_id FROM corpus GROUP BY md5(text)),
            |survivors AS (
            |  SELECT c.doc_id, c.lang,
            |    len(string_split(c.text, ' ')) AS n_words
            |  FROM corpus c JOIN canon USING (doc_id)
            |  WHERE len(string_split(c.text, ' ')) >= 20
            |    AND len(list_distinct(string_split(c.text, ' '))) /
            |      len(string_split(c.text, ' ')) > 0.2
            |    AND len(list_filter(string_split(c.text, ' '),
            |                        w -> w IN ($duckStop))) /
            |      len(string_split(c.text, ' ')) < 0.2)
            |SELECT lang, COUNT(*) AS n_docs,
            |  CAST(SUM(n_words) AS BIGINT) AS n_tokens
            |FROM survivors GROUP BY lang""".stripMargin),
    bench = true)

  /** Deterministic stratified sampling (training-mix selection): exact-k
    * per language by md5 order, via the native BoundedTopK aggregate —
    * one aggregate pass, shuffle of |strata|×k rows, no corpus-wide
    * window sort. The oracle re-derives the same picks by ranking the
    * same 12-hex md5 prefix (lexicographic hex order == numeric order).
    */
  val sampleStratified: QueryDef = QueryDef("sample_stratified_hash",
    (s, dir) => graft.operators.Sampling
      .stratifiedByHash(docs(s, dir), "lang", "doc_id", 5),
    Some("""SELECT lang AS stratum, rnk AS pick_rank, doc_id FROM (
           |  SELECT lang, doc_id,
           |    row_number() OVER (PARTITION BY lang
           |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 12), doc_id)
           |      AS rnk
           |  FROM documents) t
           |WHERE rnk <= 5""".stripMargin))

  /** Weighted Bernoulli keep: per-language sampling rates applied as a
    * deterministic hash-fraction test (rates nest: raising a rate keeps
    * every previously kept row). Narrow projection — no shuffle.
    */
  val sampleWeighted: QueryDef = QueryDef("sample_weighted",
    (s, dir) => graft.operators.Sampling.weightedKeep(
        docs(s, dir).select("doc_id", "lang"), "doc_id",
        "CASE WHEN lang = 'en' THEN 0.8 ELSE 0.3 END"),
    Some("""SELECT doc_id, lang FROM documents
           |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
           |        ::BIGINT AS DOUBLE) / 281474976710656
           |  < CASE WHEN lang = 'en' THEN 0.8 ELSE 0.3 END""".stripMargin))

  /** Temperature-weighted source mixing (τ = 0.5): per-language keep
    * rates ∝ sqrt(count), scaled to keep ~half the corpus — big
    * languages damped, small ones boosted. Rates are quantized to
    * integer micro-units and membership is an integer hash-unit
    * comparison, so the mix is bit-deterministic in any engine; the
    * oracle re-derives rates AND membership and must land on identical
    * per-language kept counts.
    */
  val sampleTemperature: QueryDef = QueryDef("sample_temperature_mix",
    (s, dir) => graft.operators.Sampling.temperatureMix(
        docs(s, dir).select("doc_id", "lang"), "lang", "doc_id", 0.5)
      .groupBy("lang")
      .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_kept"),
        org.apache.spark.sql.functions.max("__r_units").as("rate_units")),
    Some("""WITH c AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
           |t AS (SELECT CAST(SUM(c) AS BIGINT) AS n,
           |        list_aggregate(list_sort(list(CAST(sqrt(c) AS DOUBLE))),
           |                       'sum') AS wsum
           |      FROM c),
           |r AS (SELECT lang, c,
           |        CAST(ROUND(1000000 * LEAST(CAST(1.0 AS DOUBLE),
           |          0.5 * n * (sqrt(c) / wsum) / c)) AS BIGINT) AS rate_units
           |      FROM c, t),
           |k AS (SELECT d.lang, d.doc_id, r.rate_units
           |      FROM documents d JOIN r ON d.lang = r.lang
           |      WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 12))
           |              ::BIGINT % 1000000 < r.rate_units)
           |SELECT lang, COUNT(*) AS n_kept, MAX(rate_units) AS rate_units
           |FROM k GROUP BY lang""".stripMargin))

  /** Deterministic shuffle-and-shard: hash-assigned shard + within-shard
    * rank (|shards|-way parallel). The oracle exploits that fixed-width
    * hex sorts lexically in numeric order.
    */
  val sampleShard: QueryDef = QueryDef("sample_shard",
    (s, dir) => graft.operators.Sampling
      .deterministicShard(docs(s, dir).select("doc_id"), "doc_id", 8),
    Some("""SELECT doc_id,
           |  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
           |        ::BIGINT % 8 AS INT) AS shard,
           |  CAST(row_number() OVER (
           |    PARTITION BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
           |                 ::BIGINT % 8
           |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT)
           |    AS shard_rank
           |FROM documents""".stripMargin))

  /** Sequence packing into 4096-"token" contexts (n_chars as the token
    * proxy — the fixture carries no tokenizer), 4 shards. ctx_id/offset
    * are exact integers, so the layout is bit-reproducible.
    */
  val samplePack: QueryDef = QueryDef("sample_pack_contexts",
    (s, dir) => graft.operators.Sampling.packContexts(
      docs(s, dir).select("doc_id", "n_chars"), "doc_id", "n_chars",
      4096L, 4),
    Some("""WITH sh AS (
           |  SELECT doc_id, n_chars,
           |    md5(CAST(doc_id AS VARCHAR)) AS h,
           |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
           |          ::BIGINT % 4 AS INT) AS shard
           |  FROM documents),
           |c AS (
           |  SELECT doc_id, shard,
           |    CAST(SUM(n_chars) OVER (PARTITION BY shard
           |      ORDER BY h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |      - n_chars AS BIGINT) AS strt
           |  FROM sh)
           |SELECT doc_id, shard, strt // 4096 AS ctx_id,
           |  strt % 4096 AS ctx_offset
           |FROM c""".stripMargin))

  /** Streaming ingest-prep ([[graft.streaming.Streams
    * .ingestPrepAvailableNow]]): quality gate + near-dup check against
    * the existing corpus's fingerprint set, verdicted on arrival. The
    * oracle replays both gates in batch SQL — stream and batch verdicts
    * proven identical.
    */
  val streamIngestPrep: QueryDef = QueryDef("stream_ingest_prep",
    (s, dir) => graft.streaming.Streams.ingestPrepAvailableNow(s, dir),
    Some(s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws
            |              FROM documents),
            |ex AS (SELECT DISTINCT concat(${duckSimhashFp(16)}) AS fp
            |       FROM words WHERE doc_id % 2 = 0),
            |inc AS (
            |  SELECT doc_id, concat(${duckSimhashFp(16)}) AS fp,
            |    len(ws) >= 5
            |      AND len(list_distinct(ws)) / len(ws) >= 0.3 AS q
            |  FROM words WHERE doc_id % 2 = 1),
            |v AS (
            |  SELECT doc_id,
            |    CASE WHEN NOT q THEN 'reject_quality'
            |         WHEN fp IN (SELECT fp FROM ex) THEN 'reject_dup'
            |         ELSE 'admit' END AS verdict
            |  FROM inc)
            |SELECT verdict, CAST(COUNT(*) AS BIGINT) AS n,
            |  CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
            |FROM v GROUP BY verdict""".stripMargin))

  /** Leakage-safe grouped split ([[Sampling.leakageSafeSplit]]) over the
    * planted near-dup corpus: every MinHash-connected component lands
    * whole in one of train/val/test by md5 of its group id; singletons
    * split by their own id. The oracle replays the full chain — LSH
    * candidates → exact Jaccard → recursive transitive closure →
    * min-label group → portable md5 bucket.
    */
  val leakageSplit: QueryDef = QueryDef("sample_leakage_split",
    (s, dir) => graft.operators.Sampling.leakageSafeSplit(
      plantedCorpus(s, dir), Dedup.minHashPairs(plantedCorpus(s, dir))),
    Some(s"""$duckComponents,
            |g AS (
            |  SELECT d.doc_id, COALESCE(l.lbl, d.doc_id) AS group_id
            |  FROM corpus d LEFT JOIN lbl l ON d.doc_id = l.id),
            |b AS (
            |  SELECT doc_id, group_id,
            |    ('0x' || substr(md5(CAST(group_id AS VARCHAR)), 1, 12))
            |      ::BIGINT % 10 AS bk
            |  FROM g)
            |SELECT doc_id, group_id,
            |  CASE WHEN bk < 8 THEN 'train'
            |       WHEN bk < 9 THEN 'val'
            |       ELSE 'test' END AS split
            |FROM b""".stripMargin))

  val defs: Seq[QueryDef] = Seq(
    dedupExact, dedupMinhash, dedupHotBuckets, dedupSimhash,
    dedupSimhashPairs, dedupNgram, dedupIncremental,
    dedupEmbedding, dedupEmbeddingBanded, streamNearDup,
    annTopk, annIvf, annIvfKmeans, annIvfRecall,
    annPq, annPqKmeans, annPqRerank, annPqRecall, annIvfPq, annIvfPqResidual,
    sampleStratified,
    sampleWeighted, sampleTemperature, sampleShard, samplePack,
    leakageSplit, streamIngestPrep,
    decontaminate, dedupClusterMembers, dedupClustersStar,
    textStats, textLangid, textTokens, textQualityFilter, textRepetition,
    textFingerprint, piiRedact,
    multimodal, multimodalPixels, multimodalPixelsPng, corpusPrep)
}

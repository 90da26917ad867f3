package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryDef
import graft.catalog.Tables
import graft.operators.{Similarity, TextAnalysis}
import Sql.{cosOf, duckKmeansCtes, duckQuant, duckRankedCentroids}

/** Second LLM-pipeline wave (round 9): semantic dedup (SemDeDup),
  * repeated-passage scrubbing, and model-based quality scoring. Same
  * contract as PipelineQueries — Spark sides are graft.operators
  * modules, DuckDB oracles re-derive the full computation (including the
  * k-means chain) so results are hash-verified.
  */
object Pipeline2Queries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** SemDeDup over the embeddings corpus: the oracle replays the exact
    * deterministic k-means (quantize → seed → assign → floor-mean Lloyd
    * step → re-assign, identical to the ann_ivf_kmeans chain), computes
    * each vector's centroid similarity, and prunes any vector with a
    * same-cluster epsilon-neighbor that is LESS centroid-similar
    * (vec_id tie-break) — bit-identical to Similarity.semanticDedup.
    */
  val semanticDedup: QueryDef = QueryDef("dedup_semantic",
    (s, dir) => Similarity.semanticDedup(embs(s, dir)),
    Some {
      s"""WITH c AS (SELECT vec_id, ${duckQuant("embedding")} AS qe
         |           FROM embeddings),
         |${duckKmeansCtes("c", 8)},
         |${duckRankedCentroids("a2", "a.vec_id, a.qe, s.cid, s.ce", "c", "cent")},
         |cc AS (SELECT vec_id, qe, cid,
         |         ${cosOf("qe", "ce")} AS cos_centroid
         |       FROM a2 WHERE rn = 1),
         |pruned AS (SELECT DISTINCT x.vec_id
         |           FROM cc x JOIN cc y
         |             ON x.cid = y.cid AND x.vec_id <> y.vec_id
         |            AND ${cosOf("x.qe", "y.qe")} >= 0.4
         |            AND (y.cos_centroid < x.cos_centroid OR
         |                 (y.cos_centroid = x.cos_centroid
         |                  AND y.vec_id < x.vec_id)))
         |SELECT cc.vec_id, cc.cid, cc.cos_centroid,
         |       (pruned.vec_id IS NULL) AS keep
         |FROM cc LEFT JOIN pruned ON cc.vec_id = pruned.vec_id""".stripMargin
    },
    // Headliner: k-means + within-cluster self-join is a distinct
    // workload shape from the ANN probes (corpus×corpus bounded by
    // cluster size, not corpus×queries).
    bench = true)

  /** Repeated-passage scrub: the oracle re-derives the hot-gram census
    * (word 8-grams in >1 distinct doc) and the positional cover mask in
    * DuckDB list SQL — rewritten text, not just a verdict, is
    * hash-compared. ws[i:i+7] is DuckDB's inclusive 1-based slice = 8
    * words = Spark's slice(ws, i, 8).
    */
  val passageScrub: QueryDef = QueryDef("pipeline_passage_scrub",
    (s, dir) => TextAnalysis.scrubRepeatedPassages(docs(s, dir)),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
           |           FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(list_transform(
           |        generate_series(1, len(ws) - 7),
           |        i -> md5(array_to_string(ws[i:i+7], ' '))))) AS g
           |      FROM w WHERE len(ws) >= 8),
           |hot AS (SELECT g FROM g GROUP BY g
           |        HAVING COUNT(DISTINCT doc_id) > 1),
           |hl AS (SELECT COALESCE(list(g ORDER BY g), []) AS hot FROM hot),
           |m AS (SELECT doc_id, ws,
           |        CASE WHEN len(ws) >= 8
           |          THEN list_filter(generate_series(1, len(ws) - 7),
           |                 i -> list_contains(hot,
           |                        md5(array_to_string(ws[i:i+7], ' '))))
           |          ELSE [] END AS hp
           |      FROM w CROSS JOIN hl),
           |r AS (SELECT doc_id, ws,
           |        list_filter(generate_series(1, len(ws)),
           |          j -> NOT len(list_filter(hp,
           |                 i -> j >= i AND j < i + 8)) > 0) AS kept
           |      FROM m)
           |SELECT doc_id,
           |  COALESCE(array_to_string(list_transform(kept, j -> ws[j]), ' '),
           |           '') AS clean_text,
           |  CAST(len(ws) AS INT) AS n_words,
           |  CAST(len(ws) - len(kept) AS INT) AS n_dropped
           |FROM r""".stripMargin),
    // Headliner: tracks the census-then-rewrite two-pass scrub (per-word
    // md5 hashing is the CPU-bound narrow shape the other headliners
    // don't cover).
    bench = true)

  /** Logistic quality score: the oracle recomputes every feature and the
    * sigmoid in DuckDB. Feature arithmetic is exact integer ratios, so
    * the sigmoid input matches bit-for-bit; exp() may differ in the last
    * ulp, inside the gate's float tolerance. The top-word count uses
    * DuckDB's per-element count (same value as Spark's sorted-run fold).
    */
  val qualityScore: QueryDef = QueryDef("pipeline_quality_score",
    (s, dir) => TextAnalysis.qualityScore(docs(s, dir)),
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws, text
           |           FROM documents),
           |f AS (SELECT doc_id,
           |        len(ws) AS nw,
           |        CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS ttr,
           |        CAST(len(list_filter(ws, x ->
           |          x IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
           |          / len(ws) AS swr,
           |        CAST(length(replace(text, ' ', '')) AS DOUBLE)
           |          / len(ws) AS awl,
           |        CAST(list_max(list_transform(list_distinct(ws),
           |          w2 -> len(list_filter(ws, x -> x = w2)))) AS DOUBLE)
           |          / len(ws) AS twf
           |      FROM w WHERE len(ws) >= 2),
           |z AS (SELECT doc_id,
           |        -2.5 + 0.5 * ln(nw) + 2.0 * ttr + 1.5 * swr
           |          + 0.1 * (awl - 5.0) - 3.0 * twf AS z
           |      FROM f)
           |SELECT doc_id,
           |  1.0 / (1.0 + exp(-z)) AS q_score,
           |  CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5
           |       THEN 1 ELSE 0 END AS INT) AS passes
           |FROM z""".stripMargin))

  /** STREAMING IVF ingest assignment: the oracle replays the k-means
    * model (same chain as dedup_semantic) and each vector's argmax-cosine
    * list assignment; the Spark side executes it as a real streaming
    * query (AvailableNow, stream–static broadcast model) — stateless, so
    * stream == batch by construction and the hash compare proves it.
    */
  val streamAnnAssign: QueryDef = QueryDef("stream_ann_assign",
    (s, dir) => graft.streaming.Streams.ivfAssignAvailableNow(s, dir),
    Some {
      val cols = s"a.vec_id, s.cid, ${cosOf("a.qe", "s.ce")} AS cos_centroid"
      s"""WITH c AS (SELECT vec_id, ${duckQuant("embedding")} AS qe
         |           FROM embeddings),
         |${duckKmeansCtes("c", 8)},
         |${duckRankedCentroids("a2", cols, "c", "cent")}
         |SELECT vec_id, cid, cos_centroid FROM a2 WHERE rn = 1""".stripMargin
    })

  /** Incremental semantic dedup: incoming = every 5th vector, existing =
    * the rest; centroids trained on EXISTING only (seeds = its vec_ids
    * < 8 — six seeds at this split, deterministically mirrored), then
    * incoming ⋈ existing on cluster id with the cosine gate.
    */
  val semanticIncremental: QueryDef = QueryDef("dedup_semantic_incremental",
    (s, dir) => {
      val e = embs(s, dir)
      Similarity.incrementalSemanticDedup(
        e.filter("vec_id % 5 != 0"), e.filter("vec_id % 5 = 0"))
    },
    Some {
      s"""WITH c AS (SELECT vec_id, ${duckQuant("embedding")} AS qe
         |           FROM embeddings),
         |ex0 AS (SELECT * FROM c WHERE vec_id % 5 <> 0),
         |${duckKmeansCtes("ex0", 8)},
         |${duckRankedCentroids("a2", "a.vec_id, a.qe, s.cid", "c", "cent")},
         |asg2 AS (SELECT vec_id, qe, cid FROM a2 WHERE rn = 1),
         |i AS (SELECT * FROM asg2 WHERE vec_id % 5 = 0),
         |e AS (SELECT * FROM asg2 WHERE vec_id % 5 <> 0)
         |SELECT i.vec_id AS new_id, e.vec_id AS old_id,
         |       ${cosOf("i.qe", "e.qe")} AS cos_sim
         |FROM i JOIN e ON i.cid = e.cid
         |WHERE ${cosOf("i.qe", "e.qe")} >= 0.4""".stripMargin
    })

  def defs: Seq[QueryDef] =
    Seq(semanticDedup, passageScrub, qualityScore, streamAnnAssign,
      semanticIncremental)
}

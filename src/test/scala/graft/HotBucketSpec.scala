package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Tables
import graft.operators.{Dedup, Similarity}

/** LSH hot-bucket cap: a planted boilerplate cluster (the pathological
  * shape of real corpora — cookie banners, license headers duplicated
  * across thousands of pages) must not send the band-bucket join
  * quadratic. The cap drops the cluster's bucket from candidate
  * generation while leaving every normal bucket untouched.
  */
class HotBucketSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val docs = Tables.load(spark, sfDir, "documents")
    .select("doc_id", "text")

  test("minHashPairs: planted 1k-duplicate cluster is capped, normal pairs survive") {
    val s = spark
    import s.implicits._
    // 1000 near-identical boilerplate docs (identical shingle sets →
    // identical signatures → one band bucket of 1000 → 499,500 in-bucket
    // pairs if uncapped).
    val boiler = (1 to 1000)
      .map(i => (100000L + i, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    val corpus = docs.unionByName(boiler)

    val baseline = rows(Dedup.minHashPairs(docs, maxBucket = 100)
      .select("doc_a", "doc_b"))
    val capped = Dedup.minHashPairs(corpus, maxBucket = 100)
      .select("doc_a", "doc_b")
    val got = rows(capped)

    // No pair from inside the planted cluster...
    assert(!got.exists(r => r.forall(_.asInstanceOf[Long] > 100000L)),
      "cluster pairs leaked through the cap")
    // ...and the organic corpus pairs are exactly the uncapped baseline.
    assert(got == baseline)
    // The audit surface reports the dropped bucket at cluster size.
    val hot = Dedup.hotBuckets(corpus, maxBucket = 100)
      .select("bucket_size").as[Long].collect()
    assert(hot.nonEmpty && hot.forall(_ >= 1000L), hot.toSeq.toString)
  }

  test("signLshBanded: clustered embeddings are capped without going quadratic") {
    val s = spark
    import s.implicits._
    val embs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    // 800 copies of one organic embedding — all four of its sign bands
    // blow past the cap. (The template's ORGANIC bucket-mates get capped
    // with it — intended recall behavior — so the assertion is no-leak +
    // subset-of-baseline, not equality.)
    val template = embs.limit(1).select(col("embedding")).collect()(0)
      .getSeq[Float](0).toArray
    val cluster = (1 to 800).map(i => (200000L + i, template))
      .toDF("vec_id", "embedding")
    val corpus = embs.unionByName(cluster)

    val baseline = rows(Similarity.signLshBanded(embs, maxBucket = 100)
      .select("vec_a", "vec_b"))
    val got = rows(Similarity.signLshBanded(corpus, maxBucket = 100)
      .select("vec_a", "vec_b"))

    assert(!got.exists(r => r.exists(_.asInstanceOf[Long] > 200000L)),
      "cluster pairs leaked through the cap")
    assert(got.toSet.subsetOf(baseline.toSet))
  }

  test("simHashNearPairs: planted identical-fingerprint cluster is capped") {
    val s = spark
    import s.implicits._
    // 200 copies of one text share one fingerprint, so both of its
    // chunk buckets hold 200 docs — over a cap of 100.
    val boiler = (1 to 200)
      .map(i => (100000L + i, "cookie banner accept all cookies to continue browsing this site"))
      .toDF("doc_id", "text")
    val corpus = docs.unionByName(boiler)
    def inCluster(r: Seq[Any]): Boolean =
      r.take(2).forall(_.asInstanceOf[Long] > 100000L)

    val baseline = rows(Dedup.simHashNearPairs(docs, maxBucket = 100)
      .select("doc_a", "doc_b"))
    val got = rows(Dedup.simHashNearPairs(corpus, maxBucket = 100)
      .select("doc_a", "doc_b"))
    assert(!got.exists(inCluster), "cluster pairs leaked through the cap")
    assert(got.toSet.subsetOf(baseline.toSet))
    // Above the cluster size the cap does not engage: all 200·199/2
    // in-cluster pairs come back.
    val uncapped = rows(Dedup.simHashNearPairs(corpus, maxBucket = 1000)
      .select("doc_a", "doc_b"))
    assert(uncapped.count(inCluster) == 200 * 199 / 2)
  }

  test("incrementalNearDups: a new member of a capped existing cluster is admitted") {
    val s = spark
    import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    // Existing side: the corpus plus a 200-doc boilerplate cluster, whose
    // band buckets exceed a cap of 100.
    val existing = docs.unionByName((1 to 200)
      .map(i => (100000L + i, text)).toDF("doc_id", "text"))
    // Incoming: one more cluster member and re-arrivals of every 7th doc.
    val reArrivals = docs.filter("doc_id % 7 = 0")
      .selectExpr("doc_id + 1000000000 AS doc_id", "text")
    val incoming = reArrivals.unionByName(Seq((500000L, text))
      .toDF("doc_id", "text"))

    val got = rows(Dedup.incrementalNearDups(existing, incoming,
      maxBucket = 100).select("new_id", "old_id"))
    // The new member generates no candidates, so no pair names it...
    assert(!got.exists(_.head == 500000L), "capped cluster member matched")
    // ...while every re-arrival still meets its source.
    val sources = reArrivals.select("doc_id").as[Long].collect().toSet
    assert(sources.nonEmpty &&
      sources.forall(n => got.contains(Seq(n, n - 1000000000L))))
    // Uncapped, the new member matches all 200 copies.
    val uncapped = rows(Dedup.incrementalNearDups(existing, incoming,
      maxBucket = 1000).select("new_id", "old_id"))
    assert(uncapped.count(_.head == 500000L) == 200)
  }

  test("contamination: boilerplate grams above maxDf are excluded") {
    val s = spark
    import s.implicits._
    // A license-header 8-gram planted in every holdout doc would match
    // every train doc containing it — boilerplate, not contamination.
    val header = "this work is licensed under the creative commons attribution"
    val holdout = (1 to 50)
      .map(i => (300000L + i, s"$header unique holdout tail number $i"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, s"$header some training document body here entirely"),
      (2L, "completely unrelated training text with no shared grams at all whatsoever today"),
      // real contamination: copies holdout doc 7's full text
      (3L, s"$header unique holdout tail number 7"))
      .toDF("doc_id", "text")

    // maxDf = 10: the header grams hit all 50 holdout docs -> dropped;
    // doc 3's tail grams hit exactly one holdout doc -> kept.
    val got = Dedup.contamination(train, holdout, n = 8, maxDf = 10)
      .orderBy("train_id").collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(got.map(_._1) == Seq(3L), got.toString)
    assert(got.head._2 == 1L, "doc 3 should match exactly one holdout doc")

    // Uncapped, the boilerplate makes doc 1 (and 3) "contaminated" by
    // all 50 holdout docs — the noise the cap exists to remove.
    val uncapped = Dedup.contamination(train, holdout, n = 8,
        maxDf = 1000)
      .orderBy("train_id").collect().map(_.getLong(0)).toSeq
    assert(uncapped == Seq(1L, 3L), uncapped.toString)
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}

/** Pipeline operators on synthetic inline fixtures with known answers. */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def docsDF = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
      (3L, "completely different content about database engines and queries"),
      (4L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
      (5L, "spark catalyst optimizer rewrites logical plans into physical plans")
    ).toDF("doc_id", "text")
  }

  test("exact dedup collapses identical texts, keeps min id") {
    val r = Dedup.exact(docsDF).collect()
      .map(x => x.getLong(1) -> x.getLong(2)).toMap // keep_id -> n_copies
    assert(r(1L) == 2L)            // docs 1 and 4
    assert(r.values.sum == 5L)     // all docs accounted for
    assert(r.size == 4)            // 4 distinct contents
  }

  test("minhash LSH finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.minHashPairs(docsDF, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))   // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) || pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("simhash clusters identical docs together") {
    val clusters = Dedup.simHashClusters(docsDF).collect()
    assert(clusters.exists(r => r.getLong(1) == 1L && r.getLong(2) >= 2L))
  }

  test("simhash hamming-LSH finds exact dups at distance 0") {
    val pairs = Dedup.simHashNearPairs(docsDF).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 4L)).contains(0)) // identical text -> hamming 0
  }

  test("LSH helpers own their materializations: no session cache entries survive") {
    // The r6 contract gap: minHashPairs/simHashNearPairs used cache(),
    // leaving one CacheManager entry per call that only clearCache()
    // could release. Both now localCheckpoint instead — repeated sweeps
    // must leave the SQL cache untouched, no manual cleanup required.
    spark.catalog.clearCache()
    (1 to 3).foreach { _ =>
      Dedup.minHashPairs(docsDF, threshold = 0.5).collect()
      Dedup.simHashNearPairs(docsDF).collect()
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "LSH helpers must not leave cached frames in the session")
  }

  test("brute-force ANN top-k ranks the nearest vector first") {
    val s = spark
    import s.implicits._
    // vec 0 is nearly parallel to vec 1, orthogonal to vec 2
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.99f, 0.1f, 0.0f), 0),
      (2L, Array(0.0f, 1.0f, 0.0f), 1),
      (3L, Array(0.5f, 0.5f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, emb.filter("vec_id = 0"), 3)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    assert(top == Seq(1L, 3L, 2L))
    val ivf = Similarity.ivfTopK(emb, emb.filter("vec_id = 0"), 3)
      .collect().map(_.getLong(2)).toSeq
    assert(ivf == Seq(1L)) // only label-0 partition probed
  }

  test("PQ with a lossless codebook reproduces exact-dot top-k") {
    val s = spark
    import s.implicits._
    // dim=4, m=2 subspaces; ks = |corpus|, so every subvector is its own
    // nearest codeword → ADC scores equal exact dots and the PQ ranking
    // must match dotTopK bit-for-bit.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (1L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.7f, 0.3f)),
      (3L, Array(0.4f, 0.5f, 0.0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter("vec_id < 2")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rnk", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb, q, 3, m = 2, ks = 4, dim = 4)
    val exact = Similarity.dotTopK(emb, q, 3)
    assert(key(pq) == key(exact))
    // m must split dim into equal subspaces: 3 does not divide 4.
    val bad = intercept[IllegalArgumentException] {
      Similarity.pqTopK(emb, q, 3, m = 3, ks = 4, dim = 4)
    }
    assert(bad.getMessage.contains("must divide"))
  }

  test("PQ with a lossy codebook still ranks by nearest codeword") {
    val s = spark
    import s.implicits._
    // Codebook seeds = vecs 0,1 only. Vecs 2 and 3 encode to whichever
    // seed subvector is L2-closest; querying vec 1, the ADC ranking must
    // put vec 2 (encodes to codeword 1, the query's own direction) first.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 1.0f)),
      (2L, Array(0.1f, 0.9f, 0.1f, 0.9f)),
      (3L, Array(0.9f, 0.1f, 0.1f, 0.1f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(emb, emb.filter("vec_id = 1"), 2,
        m = 2, ks = 2, dim = 4)
      .collect().sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
    // vec 2 encodes to codeword 1 in both subspaces → full codeword-1 dot;
    // vec 3 encodes to codeword 0 → near-zero dot against query 1.
    assert(top.head == 2L)
  }

  test("PQ recall on testdata embeddings vs exact dot") {
    val emb = graft.catalog.Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter("vec_id < 10")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.dotTopK(emb, q, 3))
    val pq = pairs(Similarity.pqTopK(emb, q, 3))
    val recall = (exact & pq).size.toDouble / exact.size
    // 16-codeword seeded codebooks on 64-dim SYNTHETIC (near-random)
    // embeddings are the hard case for PQ — measured ~0.23-0.27 here
    // (random chance at top-3 of ~1k vectors is ~0.003). Production
    // corpora with cluster structure + ks=256 recall far more; the gate
    // guards against collapse, not against the data's intrinsic limit.
    assert(recall >= 0.15, s"PQ recall collapsed: $recall")
    // And the rerank path must be at least as good under cosine truth.
    val brute = pairs(Similarity.bruteForceTopK(emb, q, 3))
    val rr = pairs(Similarity.pqRerankTopK(emb, q, 3, shortlist = 20))
    val rrRecall = (brute & rr).size.toDouble / brute.size
    assert(rrRecall >= recall - 0.1,
      s"rerank recall $rrRecall fell below ADC recall $recall")
  }

  test("IVF-PQ: probing all lists reproduces plain PQ exactly") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (1L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.7f, 0.3f)),
      (3L, Array(0.4f, 0.5f, 0.0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter("vec_id < 2")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rnk", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // nprobe = numCentroids: every list probed → identical to pqTopK.
    val all = Similarity.ivfPqTopK(emb, q, 3, numCentroids = 2, nprobe = 2,
      m = 2, ks = 4, dim = 4)
    val pq = Similarity.pqTopK(emb, q, 3, m = 2, ks = 4, dim = 4)
    assert(key(all) == key(pq))
    // nprobe = 1: results must be a SUBSET of the full ADC ranking's
    // pairs (the probe prunes lists, never invents candidates).
    val one = Similarity.ivfPqTopK(emb, q, 3, numCentroids = 2, nprobe = 1,
      m = 2, ks = 4, dim = 4)
    val onePairs = one.select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqPairs = Similarity.pqTopK(emb, q, 4, m = 2, ks = 4, dim = 4)
      .select("q_id", "nn_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(onePairs.subsetOf(pqPairs))
    assert(onePairs.nonEmpty)
  }

  test("residual IVF-PQ beats non-residual on CLUSTERED embeddings") {
    // The testdata embeddings are near-random (no cluster structure), so
    // the corpus gate above can only assert parity. This fixture is the
    // case IVFADC exists for: tight clusters around well-separated
    // centers, where the coarse stage absorbs the center and the PQ
    // codebook spends its whole budget on the small residual offsets.
    val s = spark
    import s.implicits._
    val dim = 8
    val centers = (0 until 4).map { c =>
      Array.tabulate(dim)(d => if (d == c * 2) 100.0f else 0.0f)
    }
    // id % 4 = cluster, so PQ seeds (vec_id < ks) span all clusters for
    // BOTH variants; offsets are deterministic and member-unique.
    val emb = (0 until 120).map { id =>
      val c = id % 4
      val v = centers(c).clone()
      (0 until dim).foreach { d =>
        v(d) += ((id * 7 + d * 3) % 11 - 5) * 0.9f
      }
      (id.toLong, v)
    }.toDF("vec_id", "embedding")
    val q = emb.filter("vec_id < 8")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.dotTopK(emb, q, 3))
    val plain = pairs(Similarity.ivfPqTopK(emb, q, 3,
      numCentroids = 4, nprobe = 2, m = 4, ks = 8, dim = dim))
    val resid = pairs(Similarity.ivfPqResidualTopK(emb, q, 3,
      numCentroids = 4, nprobe = 2, m = 4, ks = 8, dim = dim))
    val rPlain = (exact & plain).size.toDouble / exact.size
    val rResid = (exact & resid).size.toDouble / exact.size
    info(f"clustered recall@3: residual $rResid%.3f vs plain $rPlain%.3f")
    assert(rResid > rPlain,
      s"residual must strictly win on clustered data: $rResid vs $rPlain")
  }

  test("residual IVF-PQ: recall vs exact dot >= non-residual at the same code budget") {
    val emb = graft.catalog.Tables.load(spark, sfDir, "embeddings")
    val q = emb.filter("vec_id < 10")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "nn_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.dotTopK(emb, q, 3))
    val plain = pairs(Similarity.ivfPqTopK(emb, q, 3))
    val resid = pairs(Similarity.ivfPqResidualTopK(emb, q, 3))
    val rPlain = (exact & plain).size.toDouble / exact.size
    val rResid = (exact & resid).size.toDouble / exact.size
    // Same coarse stage, same probed lists, same m × ks budget — encoding
    // residuals (tighter spread around the origin) plus the exact
    // dot(q, ce) offset must not lose to raw-vector encoding.
    assert(rResid >= rPlain,
      s"residual recall $rResid < non-residual $rPlain")
  }

  test("PQ k-means: lossless codebook is a Lloyd fixed point") {
    val s = spark
    import s.implicits._
    // ks = |corpus|: every cluster has exactly its seed as member, the
    // floor-mean of a single integral subvector is itself, so the trained
    // codebook equals the seeded one and PQ must match exact-dot top-k.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (1L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.7f, 0.3f)),
      (3L, Array(0.4f, 0.5f, 0.0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter("vec_id < 2")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rnk", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val trained = Similarity.pqKmeansTopK(emb, q, 3, m = 2, ks = 4, dim = 4)
    val exact = Similarity.dotTopK(emb, q, 3)
    assert(key(trained) == key(exact))
    // Lossy case must still run and produce a full ranking (2 codewords,
    // clusters of 2 — the Lloyd step moves both codewords).
    val lossy = Similarity.pqKmeansTopK(emb, q, 2, m = 2, ks = 2, dim = 4)
    assert(lossy.count() == 4) // 2 queries × top-2
  }

  test("PQ codebook ids are dense ranks, not raw vec_ids") {
    val s = spark
    import s.implicits._
    // Gapped, non-zero-based ids below ks: with ks = |corpus| the
    // codebook is lossless, so PQ must still reproduce exact-dot top-k.
    // Raw-vec_id cids would index past the codeword arrays (NULL scores)
    // or onto the wrong codeword.
    val emb = Seq(
      (3L, Array(1.0f, 0.0f, 0.2f, 0.1f)),
      (7L, Array(0.9f, 0.2f, 0.1f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.7f, 0.3f)),
      (15L, Array(0.4f, 0.5f, 0.0f, 0.9f))
    ).toDF("vec_id", "embedding")
    val q = emb.filter("vec_id <= 7")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "rnk", "nn_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val pq = Similarity.pqTopK(emb, q, 3, m = 2, ks = 16, dim = 4)
    val exact = Similarity.dotTopK(emb, q, 3)
    assert(key(pq) == key(exact))
  }

  test("incremental dedup matches incoming docs across sides only") {
    val s = spark
    import s.implicits._
    val existing = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "zz yy xx ww vv uu tt ss")
    ).toDF("doc_id", "text")
    // Two identical incoming copies of doc 1: both must match doc 1
    // (cross-side), and must NOT pair with each other (new × new).
    val incoming = Seq(
      (100L, "aa bb cc dd ee ff gg hh"),
      (101L, "aa bb cc dd ee ff gg hh")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNearDups(existing, incoming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((100L, 1L, 1.0), (101L, 1L, 1.0)))
  }

  test("text stats compute exact token counts and ratios") {
    val s = spark
    import s.implicits._
    val one = Seq((9L, "the cat and the hat")).toDF("doc_id", "text")
    val r = TextAnalysis.stats(one).collect().head
    assert(r.getAs[Int]("n_words") == 5)
    assert(r.getAs[Int]("n_types") == 4)          // 'the' repeats
    assert(r.getAs[Double]("stopword_ratio") == 0.6) // the, and, the
    assert(r.getAs[Int]("char_len") == 19)
  }

  test("multimodal decode: real PNG/JPEG header roundtrip from planted bytes") {
    val s = spark
    import s.implicits._
    val long = "x" * 600 // crosses the DimBase=509 boundary: height 2
    val one = Seq((7L, "abcd", "src", "en"), (8L, long, "src", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val rows = Multimodal.decodeDocuments(spark, one).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val j = rows(7L) // odd id -> JPEG
    assert(j.getAs[String]("format") == "jpeg")
    assert(j.getAs[Int]("width") == 4 % 509 + 1)
    assert(j.getAs[Int]("height") == 1)
    assert(j.getAs[Int]("n_bytes") == 4 + Multimodal.JpegHeaderLen)
    assert(j.getAs[Int]("b0") == 'a'.toInt)
    val p = rows(8L) // even id -> PNG
    assert(p.getAs[String]("format") == "png")
    assert(p.getAs[Int]("width") == 600 % 509 + 1)
    assert(p.getAs[Int]("height") == 600 / 509 % 509 + 1)
    assert(p.getAs[Int]("n_bytes") == 600 + Multimodal.PngHeaderLen)
    assert(p.getAs[Int]("b0") == 'x'.toInt)
  }

  test("multimodal decode: corrupt headers fail loudly, not with garbage dims") {
    // PNG with a flipped IHDR byte must fail the CRC check.
    val png = Multimodal.buildPng(5, 6, Array[Byte](1, 2, 3))
    png(17) = (png(17) ^ 1).toByte // width byte inside IHDR data
    val e1 = intercept[IllegalArgumentException] {
      Multimodal.decodeImageHeader(png)
    }
    assert(e1.getMessage.contains("CRC"))
    // JPEG whose SOF was replaced by EOI must report no-SOF, not dims.
    val jpg = Multimodal.buildJpeg(5, 6, Array[Byte](1, 2, 3))
    jpg(9) = 0xD9.toByte // SOF0 marker byte -> EOI
    intercept[IllegalArgumentException] {
      Multimodal.decodeImageHeader(jpg)
    }
    // Unknown signature is rejected.
    intercept[IllegalArgumentException] {
      Multimodal.decodeImageHeader(Array[Byte](0, 1, 2, 3, 4))
    }
  }

  test("multimodal pixels: P6 decode aggregates the real raster " +
    "(sum/min/max/mean), tolerates comments, rejects truncation") {
    // hand-built 2x1 raster: pixels (1,2,3),(250,0,255)
    val raster = Array[Byte](1, 2, 3, 250.toByte, 0, 255.toByte)
    val st = Multimodal.decodePpm(Multimodal.buildPpm(2, 1, raster))
    assert(st.width == 2 && st.height == 1 && st.n_pixels == 2)
    assert(st.px_sum == 1 + 2 + 3 + 250 + 0 + 255)
    assert(st.px_min == 0 && st.px_max == 255)
    assert(st.px_mean == st.px_sum.toDouble / 6)
    // truncated raster fails loudly
    val img = Multimodal.buildPpm(2, 1, raster)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm(img.dropRight(1))
    }
    // not-P6 rejected
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P3\n1 1\n255\n0 0 0".getBytes("US-ASCII"))
    }
    // end-to-end over documents: stats equal the tiled-text derivation
    val s = spark
    import s.implicits._
    val text = "hello pixel world" // n=17 -> w=18, h=1, L=54
    val one = Seq((3L, text, "src", "en"))
      .toDF("doc_id", "text", "source", "lang")
    val r = Multimodal.pixelStatsDocuments(spark, one).collect().head
    val t = text.getBytes("UTF-8")
    val tiled = (0 until 3 * 18 * 1).map(k => t(k % t.length) & 0xff)
    assert(r.getAs[Int]("width") == 18 && r.getAs[Int]("height") == 1)
    assert(r.getAs[Long]("px_sum") == tiled.sum.toLong)
    assert(r.getAs[Int]("px_min") == tiled.min)
    assert(r.getAs[Int]("px_max") == tiled.max)
  }

  test("fingerprint is order-insensitive over vocabulary") {
    val s = spark
    import s.implicits._
    val two = Seq((1L, "b a c"), (2L, "c b a")).toDF("doc_id", "text")
    val fps = TextAnalysis.fingerprint(two).collect().map(_.getString(1)).toSeq
    assert(fps.distinct.size == 1)
  }

  test("repeated-passage scrub drops exactly the covered spans") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "a b c d x y z w"),       // hot gram "a b c d" at pos 1
      (2L, "p q a b c d r s"),       // same gram mid-doc: covers pos 3-6
      (3L, "unique words only here"), // no hot gram, and < gramLen+1 grams shared
      (4L, "a b c d a b c d u"),     // two overlapping occurrences merge
      (5L, "tiny")                    // shorter than gramLen: untouched
    ).toDF("doc_id", "text")
    val out = TextAnalysis.scrubRepeatedPassages(corpus, gramLen = 4)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Int]("n_dropped")))).toMap
    assert(out(1L) == (("x y z w", 4)))
    assert(out(2L) == (("p q r s", 4)))
    assert(out(3L) == (("unique words only here", 0)))
    assert(out(4L) == (("u", 8)))
    assert(out(5L) == (("tiny", 0)))
  }

  test("quality score ranks degenerate text below diverse text") {
    val s = spark
    import s.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over a lazy dog and runs to the river"),
      (2L, "spam spam spam spam spam spam spam spam spam spam spam spam"),
      (3L, "one two")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityScore(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("q_score"), r.getAs[Int]("passes")))).toMap
    // Diverse prose (high ttr, real stopwords) beats the one-word spam
    // doc (twf = 1, ttr ~ 0) decisively.
    assert(out(1L)._1 > out(2L)._1 + 0.3)
    assert(out(1L)._2 == 1 && out(2L)._2 == 0)
    assert(out.contains(3L)) // >= 2 words is scoreable
  }

  test("semantic dedup: exact duplicates collapse to one kept copy") {
    val s = spark
    import s.implicits._
    // Two identical pairs + two singletons, 4-dim. Seeds = ids 0,1 (< 2
    // centroids); duplicates of a vector land in its cluster by identical
    // cosine, and exactly one of each identical pair must survive.
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // dup of 0
      (3L, Array(0.0f, 1.0f, 0.0f, 0.0f)), // dup of 1
      (4L, Array(0.7f, 0.7f, 0.1f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(emb, threshold = 0.99,
      numCentroids = 2, dim = 4).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Boolean]("keep")).toMap
    assert(out.size == 5)
    // Identical vectors have equal cos_centroid — vec_id breaks the tie,
    // so the smaller id of each identical pair is the keeper.
    assert(out(0L) && !out(2L))
    assert(out(1L) && !out(3L))
    assert(out(4L)) // no eps-neighbor at 0.99
  }

  test("incremental semantic dedup catches planted dups, admits novel vectors") {
    val s = spark
    import s.implicits._
    val existing = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val incoming = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)), // exact dup of 0
      (11L, Array(0.0f, 0.0f, 1.0f, 0.0f))  // novel direction
    ).toDF("vec_id", "embedding")
    val got = graft.operators.Similarity.incrementalSemanticDedup(
        existing, incoming, threshold = 0.99, numCentroids = 2, dim = 4)
      .collect().map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("old_id")))
    assert(got.contains((10L, 0L)), s"planted dup missed: ${got.toSeq}")
    assert(!got.exists(_._1 == 11L), "novel vector flagged as dup")
  }

  test("semantic dedup invariants on the testdata corpus") {
    import org.apache.spark.sql.functions._
    val emb = graft.catalog.Tables.load(spark, sfDir, "embeddings")
    val out = Similarity.semanticDedup(emb).cache()
    // Verdict is total: one row per corpus vector.
    assert(out.count() == emb.count())
    assert(out.select("vec_id").distinct().count() == emb.count())
    val withVec = out.join(emb, "vec_id")
    val qcos = graft.functions.vec.cosineQ _
    // (a) No epsilon-pair survives with both members kept: for any
    // same-cluster pair with cos >= threshold, the worse side (higher
    // cos_centroid, id tie-break) must be pruned.
    val bothKept = withVec.as("a").join(withVec.as("b"),
      col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id") &&
        col("a.keep") && col("b.keep") &&
        qcos(col("a.embedding"), col("b.embedding")) >= 0.4)
    assert(bothKept.count() == 0, "an epsilon-duplicate pair was both kept")
    // (b) Every pruned vector has a strictly better epsilon-neighbor.
    val prunedNoWitness = withVec.as("x").join(withVec.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") =!= col("y.vec_id") &&
          qcos(col("x.embedding"), col("y.embedding")) >= 0.4 &&
          (col("y.cos_centroid") < col("x.cos_centroid") ||
            (col("y.cos_centroid") === col("x.cos_centroid") &&
              col("y.vec_id") < col("x.vec_id"))), "left_anti")
      .filter(!col("x.keep"))
    assert(prunedNoWitness.count() == 0, "pruned without a better witness")
    // (c) The per-cluster minimum by (cos_centroid, vec_id) is never
    // pruned — nothing can beat it.
    val minKept = out
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("cid")
          .orderBy(col("cos_centroid").asc, col("vec_id").asc)))
      .filter(col("rn") === 1 && !col("keep"))
    assert(minKept.count() == 0, "cluster minimum was pruned")
    out.unpersist()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Drift, Sampling, TextAnalysis}

/** Semantics tests for the eighth coverage wave: BM25 retrieval,
  * unigram-LM nll scoring, bottom-k corpus-overlap sketch. Closed-form
  * micro-corpora where the scores are hand-computable.
  */
class RetrievalSpec extends AnyFunSuite {
  import TestSpark._

  private def corpus(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("bm25TopK: doc with more query-term hits outranks; score matches closed form") {
    // 3 docs, 4 tokens each (avgdl = dl = 4 so length norm cancels).
    val docs = corpus(
      (1L, "hash hash pad pad"),
      (2L, "hash pad pad pad"),
      (3L, "pad pad pad pad"))
    val got = TextAnalysis.bm25TopK(docs, Seq("hash"), k = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    // df=2, N=3: idf = ln((3-2+0.5)/(2+0.5)+1) = ln(1.6)
    // dl=avgdl: denom = tf + k1, score = idf * tf*2.2/(tf+1.2)
    val idf = math.log(1.6)
    def s(tf: Double) = idf * tf * 2.2 / (tf + 1.2)
    assert(math.abs(got(0)._2 - s(2)) < 1e-12)
    assert(math.abs(got(1)._2 - s(1)) < 1e-12)
    assert(got(2)._2 == 0.0)
  }

  test("bm25TopK: length normalization prefers the shorter doc at equal tf") {
    val docs = corpus(
      (1L, "hash pad"),
      (2L, "hash pad pad pad pad pad"))
    val got = TextAnalysis.bm25TopK(docs, Seq("hash"), k = 2)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L, 2L))
  }

  test("lmUnigramNll: uniform two-token corpus gives every doc the same nll") {
    // 2 docs x 2 tokens, each token appears twice: p = (2+1)/(4+2) = 1/2.
    val docs = corpus((1L, "aa bb"), (2L, "aa bb"))
    val got = TextAnalysis.lmUnigramNll(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(2L, 2L))
    val expect = -math.log(0.5)
    got.foreach(r => assert(math.abs(r._3 - expect) < 1e-8))
  }

  test("lmBigramNll: word order matters where a unigram LM is blind") {
    // Same bag of words, different order: "a b a b" has common bigrams,
    // "a a b b" contains the never-repeated (a,a)/(b,b) transitions.
    val docs = corpus(
      (1L, "a b a b"), (2L, "a b a b"), (3L, "a b a b"),
      (4L, "a a b b"))
    val uni = TextAnalysis.lmUnigramNll(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(uni(1L) == uni(4L)) // unigram-blind: same bag
    val bi = TextAnalysis.lmBigramNll(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(bi(4L) > bi(1L)) // bigram scorer flags the reordering
  }

  test("lmBigramNll: closed-form probabilities on a two-doc corpus") {
    // Corpus "x y" ×2: bigrams {(x,y): 2}, hist(x)=2, V=2.
    // p(y|x) = (2+1)/(2+2) = 0.75; nll = -ln(0.75) (one bigram per doc).
    val docs = corpus((1L, "x y"), (2L, "x y"))
    val got = TextAnalysis.lmBigramNll(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(got.map(_._2).toSeq == Seq(1L, 1L))
    got.foreach(r => assert(math.abs(r._3 - (-math.log(0.75))) < 1e-8))
  }

  test("lmUnigramNll: the doc with rarer tokens scores higher nll") {
    val docs = corpus(
      (1L, "the the the the"),
      (2L, "the the rare odd"))
    val got = TextAnalysis.lmUnigramNll(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(got(2L) > got(1L))
  }

  test("corpusOverlapSketch: identical halves estimate jaccard 1, disjoint 0") {
    val same = corpus(
      (0L, "a b c d e"), (2L, "a b c d e"),
      (1L, "a b c d e"), (3L, "a b c d e"))
    val r1 = Dedup.corpusOverlapSketch(same, k = 16).collect().head
    assert(r1.getAs[Double]("est_jaccard") == 1.0)
    assert(r1.getAs[Double]("exact_jaccard") == 1.0)

    val disjoint = corpus(
      (0L, "a b c d e"), (1L, "v w x y z"))
    val r2 = Dedup.corpusOverlapSketch(disjoint, k = 16).collect().head
    assert(r2.getAs[Double]("est_jaccard") == 0.0)
    assert(r2.getAs[Double]("exact_jaccard") == 0.0)
  }

  test("ksDrift: closed-form supremum, identical halves, disjoint halves") {
    val s = spark
    import s.implicits._
    // A = {1,2}, B = {1,3}: F diverges only at v=2 where |1 - 0.5| = 0.5.
    val ab = Seq((1L, 0L), (2L, 0L), (1L, 1L), (3L, 1L)).toDF("v", "side")
    val r = Drift.ksDrift(ab, "v", "side = 0").collect().head
    assert((r.getLong(0), r.getLong(1)) == (2L, 2L))
    assert(r.getAs[Long]("ks_at") == 2L)
    assert(r.getAs[Double]("ks_stat") == 0.5)

    val same = Seq((5L, 0L), (7L, 0L), (5L, 1L), (7L, 1L)).toDF("v", "side")
    assert(Drift.ksDrift(same, "v", "side = 0")
      .collect().head.getAs[Double]("ks_stat") == 0.0)

    val disjoint = Seq((1L, 0L), (2L, 0L), (10L, 1L), (11L, 1L))
      .toDF("v", "side")
    val d = Drift.ksDrift(disjoint, "v", "side = 0").collect().head
    assert(d.getAs[Double]("ks_stat") == 1.0)
    assert(d.getAs[Long]("ks_at") == 2L) // smallest v attaining the sup
  }

  test("psiDrift: ~0 on identical halves, grows with planted shift, " +
    "defined on one-sided bins") {
    val s = spark
    import s.implicits._
    // identical distributions in every bin → Laplace-smoothed PSI ≈ 0
    // (exactly 0 here: same counts → equal proportions → ln(1) = 0)
    val same = (1 to 100).flatMap(i => Seq((i.toLong, 0L), (i.toLong, 1L)))
      .toDF("v", "side")
    val r0 = Drift.psiDrift(same, "v", "side = 0", binWidth = 10)
      .collect().head
    assert(r0.getAs[Double]("psi") == 0.0)
    assert(r0.getLong(0) == 100L && r0.getLong(1) == 100L)

    // planted location shift: side B lives 500 higher → disjoint bins,
    // PSI far above the 0.25 action threshold
    val shifted = ((1 to 100).map(i => (i.toLong, 0L)) ++
      (1 to 100).map(i => (i.toLong + 500, 1L))).toDF("v", "side")
    val r1 = Drift.psiDrift(shifted, "v", "side = 0", binWidth = 10)
      .collect().head
    assert(r1.getAs[Double]("psi") > 0.25, r1.getAs[Double]("psi"))

    // one side empty: Laplace keeps it defined (uniform-vs-data), finite
    val onlyB = Seq((5L, 1L), (7L, 1L)).toDF("v", "side")
    val rE = Drift.psiDrift(onlyB, "v", "side = 0").collect().head
    assert(!rE.isNullAt(rE.fieldIndex("psi")) &&
      !rE.getAs[Double]("psi").isNaN)
    assertThrows[IllegalArgumentException](
      Drift.psiDrift(same, "v", "side = 0", binWidth = 0))
  }

  test("psiDrift: floor-division binning keeps negative values in their " +
    "own bins (r10 ADVICE — truncation merged the bins straddling zero)") {
    val s = spark
    import s.implicits._
    // Side A in [-99, -1] (bin -1 under floor division), side B in
    // [1, 99] (bin 0): fully disjoint distributions, so PSI must read
    // far above the action threshold. Truncation-toward-zero binning
    // put BOTH sides in bin 0 and reported identical distributions
    // (PSI = 0) — drift silently suppressed.
    val neg = ((1 to 99).map(i => (-i.toLong, 0L)) ++
      (1 to 99).map(i => (i.toLong, 1L))).toDF("v", "side")
    val r = Drift.psiDrift(neg, "v", "side = 0").collect().head
    assert(r.getAs[Long]("n_bins") == 2L, r)
    assert(r.getAs[Double]("psi") > 0.25, r.getAs[Double]("psi"))

    // exact bin edge on the negative side: -100 belongs to bin -1 at
    // width 100, -101 to bin -2
    val edge = Seq((-100L, 0L), (-101L, 0L), (0L, 1L)).toDF("v", "side")
    val rEdge = Drift.psiDrift(edge, "v", "side = 0").collect().head
    assert(rEdge.getAs[Long]("n_bins") == 3L, rEdge)
  }

  test("ksDrift: an empty side yields NULL ks_stat (never a NaN ranked first)") {
    val s = spark
    import s.implicits._
    val onlyB = Seq((5L, 1L), (7L, 1L)).toDF("v", "side")
    val r = Drift.ksDrift(onlyB, "v", "side = 0").collect().head
    assert(r.getLong(0) == 0L && r.getLong(1) == 2L)
    assert(r.isNullAt(r.fieldIndex("ks_stat")))
  }

  test("input guards: bm25 term list, chunk stride, zorder reserved names") {
    val docs = corpus((1L, "a b"))
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25TopK(docs, Seq("a", "a"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.chunkWindows(docs, windowTokens = 4, stride = 5)
    }
    val s = spark
    import s.implicits._
    val clash = Seq((1L, 2L, 3L)).toDF("x", "y", "__zg_z")
    val zg = java.nio.file.Files.createTempDirectory("zg").toString
    try intercept[IllegalArgumentException] {
      graft.operators.Maintenance.zorderWrite(clash, "x", "y", zg, 2)
    } finally GraftSession.removeDir(zg)
  }

  test("leakageSafeSplit: connected docs share a split; every doc assigned once") {
    val s = spark
    import s.implicits._
    val path = 101L to 164L
    val ids = (1L to 10L) ++ path
    val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3 is one group; 7-8 another; 101-...-164 a 64-node path
    // (diameter 63, past any fixed label-hop budget); rest singletons
    val pairs = (Seq((1L, 2L), (2L, 3L), (7L, 8L)) ++
      path.init.map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val got = Sampling.leakageSafeSplit(docs, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.length == ids.size)
    assert(got.map(_._1).toSet == ids.toSet)
    val byDoc = got.map(r => r._1 -> r).toMap
    // one group id and one split for the whole component
    assert(Set(byDoc(1L), byDoc(2L), byDoc(3L)).map(_._2) == Set(1L))
    assert(Set(byDoc(1L), byDoc(2L), byDoc(3L)).map(_._3).size == 1)
    assert(Set(byDoc(7L), byDoc(8L)).map(_._2) == Set(7L))
    assert(Set(byDoc(7L), byDoc(8L)).map(_._3).size == 1)
    assert(path.map(byDoc(_)._2).toSet == Set(101L))
    assert(path.map(byDoc(_)._3).toSet.size == 1)
    // singletons group under their own id
    assert(byDoc(5L)._2 == 5L)
    assert(got.forall(r => Set("train", "val", "test")(r._3)))
  }

  test("chunkWindows: full coverage, tail window, short-doc single chunk") {
    // 10 tokens, window 4, stride 3: starts 1,4,7,10 (ceil(6/3)=2 -> +1
    // extra? starts = 0..ceil((10-4)/3)=2 -> 1,4,7; token 10 covered by
    // window at 7 (7..10). n=11 would add a tail start at 10.
    val docs = corpus((1L, (1 to 10).map(i => s"t$i").mkString(" ")))
    val got = TextAnalysis.chunkWindows(docs, 4, 3).collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getString(4))).sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 4L, 7L))
    assert(got.map(_._2).toSeq == Seq(4L, 4L, 4L))
    assert(got.last._3 == "t7 t8 t9 t10")
    // every token appears in at least one chunk
    val covered = got.flatMap(_._3.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)

    // 11 tokens: tail start 10, short chunk of 2
    val docs11 = corpus((1L, (1 to 11).map(i => s"t$i").mkString(" ")))
    val got11 = TextAnalysis.chunkWindows(docs11, 4, 3).collect()
      .map(r => (r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(got11.toSeq == Seq((1L, 4L), (4L, 4L), (7L, 4L), (10L, 2L)))

    // short doc: exactly one chunk, its own length
    val short = corpus((1L, "a b"))
    val g = TextAnalysis.chunkWindows(short, 4, 3).collect()
    assert(g.length == 1)
    assert(g.head.getLong(2) == 1L && g.head.getLong(3) == 2L)
  }

  test("invertedIndex: df/cf/postings closed form, minDf filter, posting cap") {
    val docs = corpus(
      (3L, "b a a"), (1L, "a b"), (2L, "a c"))
    val got = TextAnalysis.invertedIndex(docs, minDf = 2, maxPostings = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1)
    // 'c' has df=1 -> filtered; 'a' df=3 cf=4, postings capped at 2;
    // 'b' in docs 1 and 3 only (df=2, cf=2)
    assert(got.toSeq == Seq(
      ("a", 3L, 4L, "1,2"),
      ("b", 2L, 2L, "1,3")))
  }

  test("invertedIndex: doc_id beyond 2^53 fails loudly, not misordered") {
    // The posting order key is -doc_id as DOUBLE; ids past 2^53 would
    // silently collide in the double. The operator must raise instead.
    val docs = corpus(
      ((1L << 54) + 1L, "a b"), (2L, "a b"))
    val e = intercept[Exception] {
      TextAnalysis.invertedIndex(docs, minDf = 1, maxPostings = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("2^53")), s"unexpected error: $e")
  }

  test("corpusOverlapSketch: estimator accuracy on a planted 1/3 overlap") {
    // Side A grams {s*, a*}, side B grams {s*, b*}: 300 shared of 900
    // union -> exact Jaccard 1/3. With k=256 the bottom-k estimator's
    // std is ~sqrt(j(1-j)/k) ~ 0.03; md5 is fixed, so the estimate is
    // DETERMINISTIC - the bound below can never flake, it documents
    // that the sketch lands near the truth (Broder's guarantee).
    def words(p: String, n: Int) = (1 to n).map(i => s"$p$i")
    // 3-grams of a long token sequence: w1 w2 w3, w2 w3 w4, ... — use
    // disjoint triples instead: join blocks of 3 unique tokens per gram.
    def doc(ts: Seq[String]) = ts.mkString(" ")
    // Construct grams directly: each consecutive window is a gram; to
    // control the gram sets exactly, give each side one doc per gram of
    // exactly 3 tokens.
    val shared = (1 to 300).map(i => doc(Seq(s"s${i}a", s"s${i}b", s"s${i}c")))
    val onlyA = (1 to 300).map(i => doc(Seq(s"a${i}a", s"a${i}b", s"a${i}c")))
    val onlyB = (1 to 300).map(i => doc(Seq(s"b${i}a", s"b${i}b", s"b${i}c")))
    // even doc_id = side A, odd = side B
    val rows = (shared ++ onlyA).zipWithIndex.map { case (t, i) => (i * 2L, t) } ++
      (shared ++ onlyB).zipWithIndex.map { case (t, i) => (i * 2L + 1L, t) }
    val s = spark
    import s.implicits._
    val df = rows.toDF("doc_id", "text")
    val r = Dedup.corpusOverlapSketch(df, k = 256, gramLen = 3)
      .collect().head
    assert(r.getAs[Long]("n_union") == 900L)
    assert(r.getAs[Long]("n_inter") == 300L)
    val est = r.getAs[Double]("est_jaccard")
    assert(math.abs(est - 1.0 / 3.0) < 0.1,
      s"sketch estimate $est too far from exact 1/3")
  }

  test("corpusOverlapSketch: k caps the sketch; counts are consistent") {
    // 20 distinct grams per side, none shared.
    val docs = corpus(
      (0L, (1 to 22).map(i => s"e$i").mkString(" ")),
      (1L, (1 to 22).map(i => s"o$i").mkString(" ")))
    val r = Dedup.corpusOverlapSketch(docs, k = 8).collect().head
    assert(r.getAs[Long]("k_actual") == 8L)
    assert(r.getAs[Long]("k_both") == 0L)
    assert(r.getAs[Long]("n_union") == 40L)
    assert(r.getAs[Long]("n_inter") == 0L)
  }
}

package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MGSummary
import graft.queries.Pipeline3Queries

/** Certifies the mergeable Misra-Gries summary against the exact gram
  * census: the coverage guarantee (every item with true count >
  * n/(k+1) is present), the interval guarantee (c_lo ≤ true ≤ c_hi for
  * every returned item), and the size bound — plus unit cases for the
  * compress/merge algebra.
  */
class HeavyHitterSpec extends AnyFunSuite {
  import TestSpark._

  // k sized so the guarantee threshold n/(k+1) (total gram instances
  // over k+1 — ~55k/257 ≈ 215 at sf0.01) sits BELOW the planted
  // boilerplate's df (250): the guarantee then has teeth on the fixture.
  private val k = 256

  test("summary unit algebra: compress keeps ≤ k, merge preserves bounds") {
    val a = new MGSummary(3)
    // 10×x, 6×y, 1 each of z1..z5 — x,y are the hitters
    (1 to 10).foreach(_ => a.add("x"))
    (1 to 6).foreach(_ => a.add("y"))
    Seq("z1", "z2", "z3", "z4", "z5").foreach(a.add(_))
    val b = new MGSummary(3)
    (1 to 7).foreach(_ => b.add("x"))
    Seq("w1", "w2", "w3", "w4").foreach(b.add(_))
    a.mergeFrom(b)
    val res = a.result
    assert(res.length <= 3)
    val byItem = res.map(r => r._1 -> r).toMap
    // true counts in the union stream: x=17, y=6; n=32, n/(k+1)=8 → x
    // guaranteed present; every interval must cover its true count
    assert(byItem.contains("x"))
    val trueCounts = Map("x" -> 17L, "y" -> 6L, "w1" -> 1L, "w2" -> 1L,
      "w3" -> 1L, "w4" -> 1L, "z1" -> 1L, "z2" -> 1L, "z3" -> 1L,
      "z4" -> 1L, "z5" -> 1L)
    res.foreach { case (g, lo, hi) =>
      assert(lo <= trueCounts(g) && trueCounts(g) <= hi, s"$g [$lo,$hi]")
    }
  }

  test("streaming: guarantees hold across micro-batches (the summary is " +
    "the aggregation state)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val kk = 8
    val q = mem.toDF().toDF("g")
      .agg(graft.functions.heavyHitters(col("g"), kk).as("hh"))
      .select(explode(col("hh")).as("r"))
      .select(col("r.item"), col("r.c_lo"), col("r.c_hi"))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete")
      .start()
    try {
      val b1 = Seq.fill(60)("hot") ++ (1 to 20).map(i => s"rare_a_$i")
      val b2 = Seq.fill(40)("warm") ++ (1 to 20).map(i => s"rare_b_$i")
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val summary = spark.table("hh_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val trueCounts = (b1 ++ b2).groupBy(identity).view
        .mapValues(_.size.toLong).toMap
      val n = b1.size + b2.size // 140; n/(k+1) ≈ 15 → hot, warm guaranteed
      assert(summary.length <= kk)
      val present = summary.map(_._1).toSet
      assert(Set("hot", "warm").subsetOf(present), present)
      summary.foreach { case (g, lo, hi) =>
        val t = trueCounts(g)
        assert(lo <= t && t <= hi, s"$g: true=$t outside [$lo,$hi]")
      }
      assert(n / (kk + 1) < 40, "fixture sanity: warm must clear the bound")
    } finally q.stop()
  }

  test("distributed summary honors coverage, interval, and size bounds " +
    "vs the exact census") {
    val grams = Pipeline3Queries.grams3(Pipeline3Queries.planted(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")))
    val exact = grams.groupBy("g").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val summary = grams
      .agg(graft.functions.heavyHitters(col("g"), k).as("hh"))
      .select(explode(col("hh")).as("r"))
      .select(col("r.item"), col("r.c_lo"), col("r.c_hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(summary.length <= k, s"size ${summary.length} > $k")
    val present = summary.map(_._1).toSet
    val mustHave = exact.filter(_._2 > n / (k + 1)).keySet
    assert(mustHave.nonEmpty,
      "fixture must contain guaranteed hitters (planted boilerplate)")
    assert(mustHave.subsetOf(present),
      s"missing guaranteed hitters: ${mustHave -- present}")
    summary.foreach { case (g, lo, hi) =>
      val t = exact(g)
      assert(lo <= t && t <= hi, s"$g: true=$t outside [$lo,$hi]")
    }
    // the intervals are useful, not vacuous: the top hitter's lower
    // bound alone must already clear the guarantee threshold
    assert(summary.map(_._2).max > n / (k + 1))
  }

  test("streaming: the batched word-gram aggregate is valid streaming " +
    "state (documents arrive in micro-batches, grams extracted in-agg)") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[String]
    val q = mem.toDF().toDF("text")
      .agg(graft.functions.heavyHittersWordGrams(col("text"), 8).as("hh"))
      .select(explode(col("hh")).as("r"))
      .select(col("r.item"), col("r.c_lo"), col("r.c_hi"))
      .writeStream.format("memory").queryName("hh_grams_stream")
      .outputMode("complete")
      .start()
    try {
      val boiler = "click here to subscribe now"
      mem.addData(Seq.fill(20)(s"$boiler alpha beta gamma") ++
        Seq("one off doc", "another stray text"): _*)
      q.processAllAvailable()
      mem.addData(Seq.fill(15)(s"$boiler delta epsilon zeta"): _*)
      q.processAllAvailable()
      val summary = spark.table("hh_grams_stream").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      assert(summary.length <= 8)
      val present = summary.map(_._1).toSet
      // the boilerplate's grams appear in all 35 docs — far above the
      // n/(k+1) guarantee — and must survive across micro-batches
      assert(Set("click here to", "here to subscribe", "to subscribe now")
        .subsetOf(present), present)
      summary.foreach { case (g, lo, hi) =>
        assert(lo <= hi && hi <= 35 * 4 + 10, s"$g [$lo,$hi]")
      }
    } finally q.stop()
  }

  test("batched word-gram extraction produces the IDENTICAL summary to " +
    "the exploded gram path on one partition (same gram stream)") {
    // Same docs through both pipelines, single partition so update order
    // is row order: array_distinct preserves first occurrence and so
    // does the batched per-doc seen-set, so the streams — and therefore
    // the merge-order-dependent counters — must match exactly. Doubled
    // spaces (empty tokens) included: the contiguous-span claim covers
    // them.
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat the cat sat"), // in-doc dup grams
      (3L, "a  b c a  b c d"),                    // doubled spaces
      (4L, "too short"),
      (5L, "x y z x y z x y z")
    ).toDF("doc_id", "text").coalesce(1)
    val exploded = Pipeline3Queries.grams3(docs)
      .agg(graft.functions.heavyHitters(col("g"), 4).as("hh"))
      .select(explode(col("hh")).as("r"))
      .select(col("r.item"), col("r.c_lo"), col("r.c_hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val batched = docs
      .agg(graft.functions.heavyHittersWordGrams(col("text"), 4).as("hh"))
      .select(explode(col("hh")).as("r"))
      .select(col("r.item"), col("r.c_lo"), col("r.c_hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(batched == exploded, s"\nbatched=$batched\nexploded=$exploded")
    assert(batched.nonEmpty)
  }
}

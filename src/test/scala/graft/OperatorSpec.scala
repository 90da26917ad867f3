package graft

import org.scalatest.funsuite.AnyFunSuite

/** Per-operator suites over the FIXTURES.md micro tables, mirroring the
  * reference's Executors tests (`/root/reference/test/UnitTest.cs:2507-2995`):
  * inline SQL with inline expected rows.
  */
class OperatorSpec extends AnyFunSuite {
  import TestSpark._

  registerMicroTables()
  private def sql(q: String) = rows(spark.sql(q))

  test("scan + project + filter") {
    assert(sql("SELECT a1, a2 FROM a WHERE a1 > 0") ==
      Seq(Seq(1, 2), Seq(2, 3)))
  }

  test("filter 3VL: NULL comparisons drop rows, IS NULL keeps them") {
    assert(sql("SELECT r1 FROM r WHERE r2 > 1") == Seq(Seq(1), Seq[Any](null)))
    assert(sql("SELECT r1 FROM r WHERE r2 IS NULL") == Seq(Seq(2)))
    assert(sql("SELECT r1 FROM r WHERE NOT (r2 > 1)") == Seq(Seq(0)))
  }

  test("inner join") {
    assert(sql("SELECT a1, b2 FROM a JOIN b ON a1 = b1") ==
      Seq(Seq(0, 1), Seq(1, 2), Seq(2, 3)))
  }

  test("left join keeps unmatched with NULLs") {
    assert(sql("SELECT a1, b1 FROM a LEFT JOIN b ON a1 = b1 AND b1 > 1") ==
      Seq(Seq(0, null), Seq(1, null), Seq(2, 2)))
  }

  test("theta (non-equi) nested-loop join") {
    assert(sql("SELECT a1, b1 FROM a JOIN b ON a1 > b1") ==
      Seq(Seq(1, 0), Seq(2, 0), Seq(2, 1)))
  }

  test("cross join cardinality") {
    assert(sql("SELECT COUNT(*) AS c FROM a CROSS JOIN b") == Seq(Seq(9L)))
  }

  test("semi/anti via EXISTS / NOT EXISTS") {
    assert(sql(
      "SELECT a1 FROM a WHERE EXISTS (SELECT 1 FROM b WHERE b1 = a1 AND b2 > 2)") ==
      Seq(Seq(2)))
    assert(sql(
      "SELECT a1 FROM a WHERE NOT EXISTS (SELECT 1 FROM b WHERE b1 = a1 AND b2 > 2)") ==
      Seq(Seq(0), Seq(1)))
  }

  test("aggregation with expression keys, HAVING") {
    assert(sql(
      "SELECT a1 % 2 AS k, SUM(a2) AS s, COUNT(*) AS c FROM a GROUP BY a1 % 2") ==
      Seq(Seq(0, 4L, 2L), Seq(1, 2L, 1L)))
    assert(sql(
      "SELECT a1 % 2 AS k, SUM(a2) AS s FROM a GROUP BY a1 % 2 HAVING COUNT(*) > 1") ==
      Seq(Seq(0, 4L)))
  }

  test("empty-input aggregate: one row, count 0, aggs NULL") {
    assert(sql("SELECT COUNT(*) AS c, SUM(a1) AS s, MIN(a2) AS m FROM a WHERE a1 < 0") ==
      Seq(Seq(0L, null, null)))
  }

  test("null-skipping aggregates over r") {
    assert(sql("SELECT COUNT(r2) AS c, SUM(r2) AS s, AVG(r2) AS a FROM r") ==
      Seq(Seq(3L, 6L, 2.0)))
  }

  test("sort: ASC puts NULL first, DESC puts NULL last (Spark default)") {
    assert(spark.sql("SELECT r1 FROM r ORDER BY r1").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(null), Seq(0), Seq(1), Seq(2)))
    assert(spark.sql("SELECT r1 FROM r ORDER BY r1 DESC").collect().toSeq.map(_.toSeq) ==
      Seq(Seq(2), Seq(1), Seq(0), Seq(null)))
  }

  test("limit with order (top-k)") {
    assert(spark.sql("SELECT a1 FROM a ORDER BY a1 DESC LIMIT 2")
      .collect().toSeq.map(_.toSeq) == Seq(Seq(2), Seq(1)))
  }

  test("set operations") {
    assert(sql("SELECT a1 FROM a UNION ALL SELECT b1 FROM b").size == 6)
    assert(sql("SELECT a1 FROM a UNION SELECT b1 FROM b") ==
      Seq(Seq(0), Seq(1), Seq(2)))
    assert(sql("SELECT a1 FROM a WHERE a1 > 0 EXCEPT SELECT b1 FROM b WHERE b1 > 1") ==
      Seq(Seq(1)))
    assert(sql("SELECT a1 FROM a INTERSECT SELECT b1 FROM b WHERE b1 > 1") ==
      Seq(Seq(2)))
  }

  test("scalar subquery: correlated and uncorrelated") {
    assert(sql("SELECT a1 FROM a WHERE a2 > (SELECT AVG(b2) FROM b)") ==
      Seq(Seq(2)))
    assert(sql(
      "SELECT a1, (SELECT SUM(b2) FROM b WHERE b1 <= a1) AS s FROM a") ==
      Seq(Seq(0, 1L), Seq(1, 3L), Seq(2, 6L)))
  }

  test("IN / NOT IN subquery incl. null-aware NOT IN") {
    assert(sql("SELECT a1 FROM a WHERE a1 IN (SELECT b1 FROM b WHERE b2 > 1)") ==
      Seq(Seq(1), Seq(2)))
    // r3 contains NULL → NOT IN yields no rows (standard null-aware
    // semantics; reference replicates Postgres here, ExprSubquery.cs:267-296)
    assert(sql("SELECT a1 FROM a WHERE a1 NOT IN (SELECT r3 FROM r)") == Seq())
  }

  test("mark-join shape: IN-subquery under OR still answers correctly") {
    assert(sql(
      "SELECT a1 FROM a WHERE a1 IN (SELECT b1 FROM b WHERE b2 > 2) OR a2 = 1") ==
      Seq(Seq(0), Seq(2)))
  }

  test("CTE: single and multi-reference") {
    assert(sql("WITH t AS (SELECT a1, a2 FROM a WHERE a1 > 0) " +
      "SELECT t1.a1 FROM t t1 JOIN t t2 ON t1.a1 = t2.a2 - 1") ==
      Seq(Seq(1), Seq(2)))
  }

  test("CASE / CAST / LIKE / BETWEEN / IN-list battery") {
    assert(sql("SELECT CASE WHEN a1 = 0 THEN 'z' WHEN a1 = 1 THEN 'o' END AS c FROM a") ==
      Seq(Seq[Any](null), Seq("o"), Seq("z")))
    assert(sql("SELECT CAST(a1 AS STRING) AS s, CAST('7' AS INT) + a1 AS i FROM a WHERE a1 = 1") ==
      Seq(Seq("1", 8)))
    assert(sql("SELECT a1 FROM a WHERE a1 BETWEEN 1 AND 2") == Seq(Seq(1), Seq(2)))
    assert(sql("SELECT a1 FROM a WHERE a1 IN (0, 2, 5)") == Seq(Seq(0), Seq(2)))
  }

  test("SRF explode duplicates outer columns per element") {
    // guard a1 >= 1: Spark's sequence(1, 0) DESCENDS ([1, 0]) rather
    // than producing an empty array — a real footgun for SRF queries
    assert(sql(
      "SELECT a1, s FROM a LATERAL VIEW explode(sequence(1, a1)) t AS s WHERE a1 >= 1") ==
      Seq(Seq(1, 1), Seq(2, 1), Seq(2, 2)))
  }

  test("DISTINCT and grouping sets (parity-plus)") {
    assert(sql("SELECT DISTINCT a1 % 2 AS k FROM a") == Seq(Seq(0), Seq(1)))
    assert(sql("SELECT a1 % 2 AS k, COUNT(*) AS c FROM a GROUP BY ROLLUP(a1 % 2)").size == 3)
  }

  test("duplicateClusters converges on a chain (multi-hop propagation)") {
    // A path 1-2-3-4-5 needs several contraction rounds, not one (the
    // corpus fixtures are near-cliques, which would converge in one step
    // and prove nothing about the iteration); plus a disjoint pair 10-11.
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = operators.Dedup.duplicateClusters(pairs)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 5L), (10L, 2L)))
  }

  test("duplicateClusterMembers labels every edge-connected doc") {
    // Membership is the droppable frame: every doc of the 1-2-3-4-5
    // chain maps to component min 1; the disjoint pair to 10. No
    // singleton rows (docs without edges never enter the graph).
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val got = operators.Dedup.duplicateClusterMembers(pairs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
  }

  test("duplicateClusters reliable=true without a checkpoint dir fails loudly") {
    // Must run BEFORE the reliable-checkpoint test below: a SparkContext
    // checkpoint dir can be set but never unset, and suites share the
    // session. Guarded so it stays vacuously green if another suite set one.
    import spark.implicits._
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
      intercept[IllegalArgumentException] {
        operators.Dedup.duplicateClusters(pairs, 25, true)
      }
    }
  }

  test("CC loops run with reliable checkpoints when a checkpoint dir is set") {
    // reliable = true swaps localCheckpoint for reliable checkpoint():
    // blocks go to the checkpoint dir instead of executor memory, so on a
    // dynamic-allocation cluster a lost executor cannot kill the
    // truncated lineage. Results must be identical either way.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val hadCkpt = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("doc_a", "doc_b")
      val got = operators.Dedup.duplicateClusters(pairs, 25, true)
        .orderBy("cluster_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == Seq((1L, 4L), (10L, 2L)))
      // the reliable path actually wrote checkpoint data
      assert(new java.io.File(dir).listFiles() != null &&
        new java.io.File(dir).listFiles().nonEmpty)
    } finally {
      hadCkpt.foreach(spark.sparkContext.setCheckpointDir)
      GraftSession.removeDir(dir)
    }
  }

  test("duplicateClusters contracts a long chain in O(log n) rounds") {
    // A 16-node path is the adversarial case for label propagation
    // (diameter 15) and the motivating case for star contraction
    // (~log2(16) rounds).
    import spark.implicits._
    val chain = (1L until 16L).map(i => (i, i + 1))
    val pairs = (chain :+ (100L, 101L)).toDF("doc_a", "doc_b")
    val got = operators.Dedup.duplicateClusters(pairs, maxIters = 8)
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 16L), (100L, 2L)))
    // A round cap the chain outlasts fails loudly: a partial star forest
    // would give one document two cluster_ids.
    intercept[IllegalArgumentException] {
      operators.Dedup.duplicateClusterMembers(pairs, maxIters = 1)
    }
  }

  test("duplicateClusters stays plan-bounded on a 64-node path (r5 OOM regression)") {
    // Pre-fix, each round's analyzed plan embedded ~8-16 copies of the
    // previous round's, so 5+ rounds OOM'd an 8 GB JVM during plan
    // stringification on a 17-EDGE input. With per-round localCheckpoint
    // the plan is O(1) per round: 12 rounds on a 63-edge path must both
    // complete in normal heap and return a result whose analyzed plan is
    // a handful of nodes over the checkpointed edge set.
    import spark.implicits._
    val pairs = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val res = operators.Dedup.duplicateClusters(pairs, maxIters = 12)
    val planNodes = res.queryExecution.analyzed.collectLeaves().size +
      res.queryExecution.analyzed.map(_ => 1).sum
    assert(planNodes < 40, s"analyzed plan unexpectedly large: $planNodes nodes")
    val got = res.orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 64L)))
  }

  test("repetition rules: top-word and dup-2-gram fractions, pass flag") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam ham"),          // top word 4/5, dup 2grams
      (2L, "one two three four five six"),      // all distinct -> passes
      (3L, "a b a b a b a b a b")               // alternating: 2grams repeat
    ).toDF("doc_id", "text")
    val got = operators.TextAnalysis.repetition(docs)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(2), r.getDouble(3), r.getDouble(4), r.getInt(5)))
    // doc 1: 5 words, top=4 (0.8), 2grams: [spam spam]x3 [spam ham] -> 2/4 distinct
    assert(got(0) == ((1L, 4, 0.8, 0.5, 0)))
    // doc 2: top=1 (1/6 <= 0.2), 5 distinct 2grams of 5 -> dup 0.0
    assert(got(1) == ((2L, 1, 1.0 / 6, 0.0, 1)))
    // doc 3: top=5 (0.5), 2grams: 'a b'x5 'b a'x4 -> 2/9 distinct
    assert(got(2) == ((3L, 5, 0.5, 1 - 2.0 / 9, 0)))
  }

  test("PII redaction masks emails first, then long digit runs") {
    import spark.implicits._
    val df = Seq((1L, "call 12345 or mail a.b123@mail.co x 123"))
      .toDF("id", "t")
    val r = operators.TextAnalysis.redactPii(df, "t").collect()(0)
    assert(r.getInt(2) == 1, "one digit run >= 4")   // 12345 (123s are short)
    assert(r.getInt(3) == 1, "one email")
    assert(r.getString(4) == "call <NUM> or mail <EMAIL> x 123")
  }

  test("temperatureMix: sqrt-damped rates, deterministic nested membership") {
    import spark.implicits._
    // 90/10 split: sqrt damping boosts the small domain's keep rate.
    val df = (1L to 100L).map(i => (i, if (i <= 90) "big" else "small"))
      .toDF("doc_id", "dom")
    val kept = operators.Sampling.temperatureMix(df, "dom", "doc_id", 0.5)
    val rates = kept.select("dom", "__r_units").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // shares: sqrt(90)/(sqrt90+sqrt10)=0.75, sqrt(10)/...=0.25;
    // rates: 0.5*100*0.75/90 = 0.4167, 0.5*100*0.25/10 = 1.25 -> capped 1.0
    assert(rates("small") == 1000000L, s"small-domain rate capped: $rates")
    assert(math.abs(rates("big") - 416667L) <= 1, s"big-domain rate: $rates")
    // Capped domain keeps everything; membership is id-deterministic.
    assert(kept.filter("dom = 'small'").count() == 10)
    val twice = operators.Sampling.temperatureMix(df, "dom", "doc_id", 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(twice == kept.select("doc_id").collect().map(_.getLong(0)).toSet)
  }

  test("temperatureMix: NULL domain is sampled as its own domain, not dropped") {
    import spark.implicits._
    val df = (1L to 30L)
      .map(i => (i, if (i <= 20) "known" else null))
      .toDF("doc_id", "dom")
    val kept = operators.Sampling.temperatureMix(df, "dom", "doc_id", 1.0)
    // targetFrac 1.0 -> every domain's rate caps at or near 1.0; the
    // NULL group must participate rather than being join-dropped.
    assert(kept.filter("dom IS NULL").count() > 0,
      "NULL-domain rows were dropped by the rates join")
  }
}

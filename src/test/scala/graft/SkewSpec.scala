package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Skew

/** Salted skew-join equals the plain join on skewed data. */
class SkewSpec extends AnyFunSuite {
  import TestSpark._

  test("salted join result equals plain join under heavy key skew") {
    val s = spark
    import s.implicits._
    // 10k rows, 90% on one hot key
    val skewed = (1 to 10000)
      .map(i => (if (i % 10 == 0) i.toLong % 100 else 7L, i))
      .toDF("k", "v")
    val dim = (0L to 99L).map(k => (k, s"dim_$k")).toDF("dk", "name")

    val plain = skewed.join(dim, col("k") === col("dk"))
      .groupBy("k").agg(count("*").as("c"), sum("v").as("sv"))
    val salted = Skew.saltedJoin(skewed, dim, "k", "dk", factor = 8)
      .groupBy("k").agg(count("*").as("c"), sum("v").as("sv"))

    assert(rows(salted) == rows(plain))
    // the salted plan joins on (key, salt): exchange key must include salt
    val plan = finalPlan(Skew.saltedJoin(skewed, dim, "k", "dk", 8))
    assert(plan.contains("__salt") || plan.contains("BroadcastHashJoin"), plan)
  }

  test("adaptive salted join: detects the planted hot key, replicates " +
    "the dim only for it, result equals plain join") {
    val s = spark
    import s.implicits._
    // 10k rows, 90% on hot key 7 — far above n/(k+1) at k=64
    val skewed = (1 to 10000)
      .map(i => (if (i % 10 == 0) i.toLong % 100 else 7L, i))
      .toDF("k", "v")
    val dim = (0L to 99L).map(k => (k, s"dim_$k")).toDF("dk", "name")

    val plain = skewed.join(dim, col("k") === col("dk"))
      .groupBy("k").agg(count("*").as("c"), sum("v").as("sv"))
    val adaptive = Skew.adaptiveSaltedJoin(skewed, dim, "k", "dk", factor = 8)
      .groupBy("k").agg(count("*").as("c"), sum("v").as("sv"))
    assert(rows(adaptive) == rows(plain))

    // Replication is bounded by the detected set: the salted dim side
    // carries 99 unsalted rows + 8 replicas of the ONE hot key = 107,
    // not 100 × 8 = 800 (full salting's bill).
    val replicated = dim.withColumn("__salt", explode(
      when(col("dk").cast("string").isInCollection(Seq("7")),
        expr("sequence(0, 7)")).otherwise(array(lit(0)))))
    assert(replicated.count() == 107)

    // empty detected set degenerates to the plain join, still exact
    val uniform = (1 to 1000).map(i => (i.toLong % 100, i)).toDF("k", "v")
    val plainU = uniform.join(dim, col("k") === col("dk"))
      .groupBy("k").agg(count("*").as("c"))
    val adaptiveU = Skew.adaptiveSaltedJoin(uniform, dim, "k", "dk", 8)
      .groupBy("k").agg(count("*").as("c"))
    assert(rows(adaptiveU) == rows(plainU))
  }

  test("AQE skew-join split fires on a Zipf-skewed sort-merge join") {
    // The runtime path that handles skew WITHOUT salting: AQE detects an
    // oversized shuffle partition and splits it, marking the join node
    // `skew=true`. Thresholds are scaled to the fixture (hot key ~6 MB
    // of unsafe rows vs a 256 KB threshold) exactly as graft.Run's skew
    // recipe scales them to the sf1 corpus — the mechanism, not the
    // absolute sizes, is the contract. Broadcast is disabled to force the shuffle join AQE
    // must rescue; confs are restored so other suites see none of this.
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize")
    val saved = keys.map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "262144")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "65536")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16384")
      // 400k rows, 90% on hot key 0; right side too big to broadcast
      // at -1 threshold, so the join is a shuffle join with one hot
      // partition.
      val left = spark.range(400000)
        .selectExpr("IF(id % 10 = 0, id % 1000, 0L) AS k", "id AS v")
      val right = spark.range(1000).selectExpr("id AS rk", "id * 2 AS w")
      val joined = left.join(right, col("k") === col("rk"))
      // Through Run's execution path: the split must fire AND the final
      // stage must really run — an undrained execution leaves the join's
      // numOutputRows at 0.
      Run.execute(joined)
      assert(Run.skewJoins(joined) >= 1, joined.queryExecution.executedPlan)
      val smj = new AdaptiveSparkPlanHelper {}.collect(
        joined.queryExecution.executedPlan) { case j: SortMergeJoinExec => j }
      assert(smj.map(_.metrics("numOutputRows").value) == Seq(400000L))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}

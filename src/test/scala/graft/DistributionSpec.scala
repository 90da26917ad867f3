package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.Tables

/** Distribution parity — the Spark mapping of the reference's
  * `distributed by / replicated / roundrobin` DDL and its exchange-count
  * plan assertions (`/root/reference/test/UnitTest.cs:3565-3672`,
  * `Catalog.cs:76-124`):
  *   distributed by col → repartition(col) / bucketBy,
  *   replicated         → broadcast,
  *   roundrobin         → repartition(n).
  */
class DistributionSpec extends AnyFunSuite {
  import TestSpark._

  Tables.registerAll(spark, sfDir)

  test("events table loads in an unconfigured session (driver-smoke shape)") {
    val bare = spark.newSession()
    bare.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    val df = Tables.load(bare, sfDir, "events")
    assert(df.schema("ts").dataType.typeName == "timestamp")
    assert(df.count() > 0)
  }

  test("replicated: explicit broadcast hint forces BroadcastHashJoin") {
    val n = broadcast(Tables.load(spark, sfDir, "nation"))
    val c = Tables.load(spark, sfDir, "customer")
    val plan = finalPlan(c.join(n, col("c_nationkey") === col("n_nationkey")))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("replicated-table rule broadcasts dims even with threshold off") {
    // no explicit broadcast() call; ReplicatedTableHints must add the hint
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = finalPlan(spark.sql(
        "SELECT n_name, COUNT(*) AS c FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"))
      assert(plan.contains("BroadcastHashJoin"), plan)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
  }

  test("replicated rule matches resolved paths, not basenames") {
    // r8 single-sourcing regression: a USER table that merely happens to
    // be stored as `nation.parquet` in some other directory must NOT be
    // force-broadcast — the rule consults the catalog's resolved roots
    // (Tables.isReplicatedRoot), not file names.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fake-dim")
    try {
      (1L to 1000L).map(i => (i, s"row_$i")).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$dir/nation.parquet")
      val fake = spark.read.parquet(s"$dir/nation.parquet")
      val c = Tables.load(spark, sfDir, "customer")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val plan = finalPlan(c.join(fake, col("c_custkey") === col("k")))
        // threshold off + no hint → must be a shuffle join, proving the
        // rule did NOT hint the impostor nation.parquet
        assert(!plan.contains("BroadcastHashJoin"), plan)
        // while the REAL nation (registered path) still gets the hint
        val real = Tables.load(spark, sfDir, "nation")
        val plan2 = finalPlan(c.join(real,
          col("c_nationkey") === col("n_nationkey")))
        assert(plan2.contains("BroadcastHashJoin"), plan2)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold",
          (10L << 20).toString)
    } finally GraftSession.removeDir(dir.toString)
  }

  test("roundrobin: repartition(n) produces a round-robin exchange") {
    val df = Tables.load(spark, sfDir, "orders").repartition(8)
    df.write.format("noop").mode("overwrite").save()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("REPARTITION_BY_NUM") || plan.contains("RoundRobinPartitioning"), plan)
  }

  test("distributed-by: co-partitioned bucketed join needs NO exchange") {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      GraftSession.removeDir(java.nio.file.Paths.get(wh, t).toString)
    }
    Tables.load(spark, sfDir, "orders")
      .write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("b_orders")
    Tables.load(spark, sfDir, "lineitem")
      .write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("b_lineitem")
    val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
      col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").agg(sum("l_quantity"))
    // disable broadcast so the join must pick a partitioned strategy
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = finalPlan(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
  }

  test("exchange count: group-by on the join key reuses the join's shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val o = Tables.load(spark, sfDir, "orders")
      val l = Tables.load(spark, sfDir, "lineitem")
      val df = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderkey").count()
      val plan = finalPlan(df)
      // two scans shuffle once each for the join; the aggregate reuses
      // that partitioning (no third exchange)
      val n = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(n == 2, s"expected 2 exchanges, got $n:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
  }
}

package graft

import org.apache.spark.sql.DataFrame

/** Scale soak for the CREATE INDEX clustered-layout rewrite: build a
  * catalog table from a ScaleGen lineitem (storage order uncorrelated
  * with the index key), measure a selective probe's scan rows before
  * and after `create index` on `l_partkey`, and time the rewrite —
  * the one-shuffle cost the pruning amortizes.
  *
  *   runMain graft.IndexSoak <sfDir>
  */
object IndexSoak {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: IndexSoak <sfDir>")
    val dir = args(0)
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, Some(dir))
    spark.sparkContext.setLogLevel("WARN")

    // AQE buries the scan inside query stages — the introspection
    // traversal descends into them (ZorderSpec's plain collect only
    // works on stage-less filter plans).
    def scanRows(df: DataFrame): Long = {
      df.collect()
      graft.api.PlanIntrospection.executedProfile(df)
        .filter(_._3.startsWith("Scan"))
        .flatMap(_._4).sum
    }

    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    rmrf(new java.io.File(GraftSession.targetDir("warehouse/graft_idx_soak.db")))
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_soak")
    spark.catalog.setCurrentDatabase("graft_idx_soak")

    // round-robin repartition destroys ScaleGen's replica key-striping
    // (keys are shifted per replica, which would leave the "heap"
    // layout accidentally range-clustered and understate the win)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice")
      .repartition(64)
    li.write.mode("overwrite").saveAsTable("li")
    val total = spark.table("li").count()
    val (loK, hiK) = {
      val r = spark.table("li")
        .selectExpr("min(l_partkey)", "max(l_partkey)").collect().head
      (r.getLong(0), r.getLong(1))
    }
    // ~1% selective key-range probe
    val hi = loK + math.max(1L, (hiK - loK) / 100)
    val probe = s"SELECT COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) " +
      s"AS q FROM li WHERE l_partkey BETWEEN $loK AND $hi"

    def probeTime(): Double = {
      spark.sql(probe).collect() // warm
      (1 to 3).map { _ =>
        val t = System.nanoTime()
        spark.sql(probe).collect()
        (System.nanoTime() - t) / 1e9
      }.min
    }

    val heapRows = scanRows(spark.sql(probe))
    val heapS = probeTime()
    val truth = spark.sql(probe).collect().head.toSeq

    val t0 = System.nanoTime()
    SqlDialect.exec(spark, "create index idx_pk on li (l_partkey)")
      .getOrElse(sys.error("index shim did not match"))
    val rewriteS = (System.nanoTime() - t0) / 1e9

    val seekRows = scanRows(spark.sql(probe))
    val seekS = probeTime()
    require(spark.sql(probe).collect().head.toSeq == truth,
      "INDEX SOAK: probe result changed across the rewrite")
    println(f"[indexsoak] $dir rows=$total heap_scan=$heapRows " +
      f"seek_scan=$seekRows rows_pruning=${heapRows.toDouble / seekRows}%.1fx " +
      f"heap_probe=$heapS%.2fs seek_probe=$seekS%.2fs " +
      f"speedup=${heapS / seekS}%.1fx rewrite=$rewriteS%.1fs")
    spark.stop()
  }
}

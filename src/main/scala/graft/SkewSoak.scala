package graft

import org.apache.spark.sql.SparkSession

/** Skew soak: run corpus queries against a Zipf-skewed corpus (ScaleGen
  * mode=zipf) and report, per query, wall time plus whether AQE's
  * skew-join split actually fired (the `skew=true` marker on the final
  * adaptive plan's SMJ/SHJ nodes) and how many shuffle partitions it
  * split the hot key into.
  *
  *   runMain graft.SkewSoak <zipfDir> <query> [query ...]
  *
  * Skew thresholds are scaled DOWN to the sandbox corpus
  * (`skewedPartitionThresholdInBytes`/`advisoryPartitionSizeInBytes`
  * 16 MB / 8 MB vs the 256 MB / 64 MB production defaults): at sf1 the
  * planted hot key carries ~60 MB — the same double-digit fraction of
  * the fact table that is GBs per key at 100 TB, where the DEFAULT
  * thresholds fire on exactly this shape. The soak asserts the
  * mechanism end-to-end; the thresholds are the scale model.
  *
  * Group-by skew needs no AQE analog: partial aggregation collapses the
  * hot key map-side (one row per partition reaches the shuffle), which
  * the timing rows for agg queries demonstrate.
  */
object SkewSoak {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SkewSoak <zipfDir> <query> [query ...]")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = GraftSession.configure(
      SparkSession.builder()
        .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
        .appName("graft-skewsoak")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          (16L << 20).toString)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          (8L << 20).toString)
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
        // The headliners re-aggregate on the join key downstream, so a
        // split breaks the join output's hash distribution and AQE's
        // OptimizeSkewedJoin declines by default (it would ADD a
        // shuffle). At skew scale that trade inverts — one monster
        // partition serializes the whole stage, while the extra
        // exchange re-spreads already-reduced rows — so the soak forces
        // it, which is the production setting for a corpus known to
        // carry Zipf heads.
        .config("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    ).getOrCreate()
    GraftSession.ensurePostReorderRules(spark)
    spark.sparkContext.setLogLevel("WARN")

    val results = names.map { n =>
      val d = Queries.byName.getOrElse(n, sys.error(s"unknown query $n"))
      d.build(spark, dir).write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      val df = d.build(spark, dir)
      // Execute THIS QueryExecution (rows discarded executor-side): a
      // write.save() would plan a separate command execution and leave
      // df's own adaptive plan unfinalized — its toString would show the
      // initial plan with no skew markers regardless of what ran.
      df.queryExecution.toRdd.foreachPartition(_ => ())
      val sec = (System.nanoTime() - t0) / 1e9
      // The executed adaptive plan marks a split join node with
      // `skew=true`; AQEShuffleRead reports the post-split partition
      // count on its plan line.
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val skewJoins = "skew=true".r.findAllIn(plan).size
      n -> (sec, skewJoins)
    }
    val qs = results.map { case (n, (sec, sj)) =>
      "\"" + n + "\":{\"sec\":" + String.format(
        java.util.Locale.ROOT, "%.3f", Double.box(sec)) +
        ",\"skew_joins\":" + sj + "}"
    }.mkString("{", ",", "}")
    println(s"""{"skewsoak":$qs,"dir":"$dir"}""")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-JVM execution check: run the headline + LSH/CC query families
  * under an arbitrary master (notably `local-cluster[2,8,4096]` — two
  * separate executor JVMs with a real serialization/classpath boundary,
  * the closest single-machine approximation of a cluster) and print one
  * order-insensitive result fingerprint per query. Running once under
  * `local[8]` and once under local-cluster and diffing the fingerprint
  * lines proves result stability across the process boundary —
  * everything else to date runs in ONE JVM where closure-serialization
  * and executor-classpath bugs are invisible (the 1000× soak already
  * tripped one Kryo landmine; this check makes that class of defect a
  * per-round gate instead of a scale-soak surprise).
  *
  * Usage (driver-side classpath must reach the executors, hence the
  * executor.extraClassPath passthrough; SPARK_SCALA_VERSION is REQUIRED
  * for the local-cluster leg — the binary dist's executor launcher
  * probes build directories without it and every executor dies with
  * "Cannot find any build directories"):
  *
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   SPARK_WORKER_DIR=target/spark-work SPARK_LOG_DIR=target/spark-logs \
  *     sbt "runMain graft.ClusterCheck local[8] /root/testdata/sf0.01" \
  *       > /tmp/local.txt
  *     sbt "runMain graft.ClusterCheck local-cluster[2,8,4096] ..." \
  *       > /tmp/cluster.txt
  *     diff <(grep CLUSTERCHK /tmp/local.txt) <(grep CLUSTERCHK /tmp/cluster.txt)
  *
  * The per-query fingerprint is [[fingerprint]], with no driver-side
  * collect beyond its 3-number aggregate.
  */
object ClusterCheck {

  /** Order-insensitive result fingerprint, `n=<count> xor=<xor>
    * sum=<sum>`: row count, XOR of per-row xxhash64 and exact DECIMAL sum
    * of the same hashes over `to_json(struct(*))` rows — order-insensitive
    * (all three are commutative), duplicate-sensitive (count + sum catch
    * what XOR's self-cancellation would miss) and overflow-free
    * (DECIMAL(38,0)). Equal results give equal strings.
    */
  def fingerprint(df: DataFrame): String = {
    val row = df.selectExpr("xxhash64(to_json(struct(*))) AS h")
      .selectExpr("count(*) AS n", "bit_xor(h) AS hx",
        "sum(CAST(h AS DECIMAL(38,0))) AS hs")
      .collect()(0)
    s"n=${row.get(0)} xor=${row.get(1)} sum=${row.get(2)}"
  }

  /** The families whose executors do nontrivial work: every bench
    * headliner plus the LSH / connected-components / PQ surface.
    */
  def checkNames(): Seq[String] =
    (Queries.all.filter(_.bench).map(_.name) ++ Seq(
      "dedup_incremental", "dedup_clusters", "dedup_cluster_members",
      "dedup_simhash_pairs", "dedup_ngram_jaccard", "dedup_hot_buckets",
      "dedup_embedding", "dedup_embedding_banded",
      "ann_pq_topk", "ann_ivf_pq", "ann_ivf_pq_residual",
      "pipeline_decontaminate",
      "dedup_overlap_sketch", "maintenance_zorder",
      "text_lm_bigram_nll", "text_inverted_index", "text_chunk_windows",
      "stats_ks_drift", "sample_leakage_split",
      "stream_ingest_prep",
      // r10 wave: the real-codec decode (mapPartitions case class runs
      // IN the executor JVMs — exactly the closure-serialization surface
      // this check exists for) + a NIST slice spanning the new shapes.
      "multimodal_decode", "nist_dml022_division_e2",
      "nist_dml059_having_or", "nist_dml014_self_not_in",
      // r10 second wave: the Bloom family (the bitset crosses the
      // process boundary twice — as an aggregate partial AND as a
      // binary literal in the streaming gate), census two-pass, and the
      // outer-join streaming state machine.
      "pipeline_decontaminate_bloom", "dedup_bloom_ingest",
      "stream_ingest_bloom", "text_hot_ngrams_sampled",
      "stats_corpus_profile", "stream_ssjoin_outer",
      "stream_ssjoin_full",
      // r10 third wave. text_heavy_hitters is deliberately ABSENT: its
      // counters are merge-order-dependent by contract (only the
      // coverage/interval guarantees are stable), so a cross-master
      // fingerprint diff would be a false alarm, not a bug.
      "text_substring_search", "skew_adaptive_salt",
      "stats_psi_drift")).distinct

  def main(args: Array[String]): Unit = {
    val master = if (args.nonEmpty) args(0) else "local[8]"
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val b = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "8")
    // local-cluster executors boot from SPARK_HOME jars only; hand them
    // the driver's classpath so graft classes + codegen'd expressions
    // resolve in the executor JVMs.
    if (master.startsWith("local-cluster")) {
      b.config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      b.config("spark.executor.memory", "4g")
    }
    val spark = GraftSession.build(b)
    var failed = 0
    checkNames().foreach { name =>
      val d = Queries.byName(name)
      try {
        println(s"CLUSTERCHK $name ${fingerprint(d.build(spark, sfDir))}")
      } catch {
        case e: Throwable =>
          failed += 1
          println(s"CLUSTERCHK $name ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").replaceAll("[\n\r]", " ").take(160))
      }
    }
    println(s"CLUSTERCHK_DONE master=$master failed=$failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}

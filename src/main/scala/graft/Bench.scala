package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline (`bench=true`) queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Each query is materialized through the `noop` sink so the full plan
  * (scan → shuffle → agg → project) actually executes; `count()` would let
  * Spark answer from partial aggregation without materializing projected
  * columns. Failures are reported explicitly in an "errors" object rather
  * than being silently timed.
  */
object Bench {
  /** Fixed single-core CPU probe: 3×10^8 xorshift64+popcount steps, min of
    * three timed runs after one JIT-warming run. Deterministic work, zero
    * allocation, no memory traffic — its seconds measure only how fast this
    * host runs a core right now. Emitted as `cal_probe_s` so a round's
    * absolute bench numbers carry their own machine-speed calibration:
    * round 9 recorded 1.2–3.0× slowdowns with byte-identical plans because
    * the host's per-core throughput halved mid-session (an identical probe
    * read 1.73 s early, 3.34 s late); with the probe in the artifact,
    * tools/bench_trend.py can compare time÷probe instead of raw seconds.
    */
  def calProbe(): Double = {
    def work(): Long = {
      var x = 0x9e3779b97f4a7c15L
      var acc = 0L
      var i = 0
      while (i < 300000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.bitCount(x)
        i += 1
      }
      acc
    }
    var sink = work() // JIT warm
    var best = Double.MaxValue
    var n = 0
    while (n < 3) {
      val t0 = System.nanoTime()
      sink ^= work()
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
      n += 1
    }
    if (sink == 42L) System.err.println("") // defeat dead-code elimination
    best
  }

  /** Memory-bandwidth probe: `threads` concurrent streaming sums over one
    * shared read-only 256 MB long array, wall-clock of the slowest, min
    * of 2 after a warm pass. The CPU probes are register-only and blind
    * to a saturated memory bus — a co-tenant hammering bandwidth slows
    * every Spark stage (shuffles, hash tables, row buffers are all
    * memory-bound) while both xorshift probes read healthy, which is the
    * residual failure mode after this round's probes ruled out per-core
    * and parallel-CPU degradation. Emitted as `cal_probe_mem_s`.
    */
  def calProbeMem(threads: Int): Double = {
    val n = 32 << 20 // 32M longs = 256 MB
    val arr = new Array[Long](n)
    var i = 0
    while (i < n) { arr(i) = i * 0x9e3779b97f4a7c15L; i += 1 }
    @volatile var sink = 0L
    def pass(): Double = {
      val ts = (1 to threads).map(_ => new Thread(() => {
        var acc = 0L
        var j = 0
        while (j < n) { acc += arr(j); j += 1 }
        sink ^= acc
      }))
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    pass() // warm
    val best = math.min(pass(), pass())
    if (sink == 42L) System.err.println("")
    best
  }

  /** Parallel twin of [[calProbe]]: the SAME fixed per-thread work run on
    * `threads` concurrent threads, wall-clock of the slowest. On a host
    * whose cores are truly available this reads ≈ the single-core probe;
    * when the machine is oversubscribed (other tenants, cgroup quota, SMT
    * contention) it balloons while the single-core probe stays flat —
    * which is exactly the failure mode the single probe cannot see: this
    * round observed every query uniformly 1.4–1.8× over trailing mins
    * with byte-identical plans AND a healthy 0.70 s single-core probe.
    * Emitted as `cal_probe_par_s`; trend comparisons should calibrate
    * by this one when both artifacts carry it (parallel Spark stages
    * scale with aggregate, not single-core, throughput).
    */
  def calProbePar(threads: Int): Double = {
    def work(): Long = {
      var x = 0x9e3779b97f4a7c15L
      var acc = 0L
      var i = 0
      while (i < 300000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.bitCount(x)
        i += 1
      }
      acc
    }
    @volatile var sink = 0L
    def pass(): Double = {
      val ts = (1 to threads).map(_ => new Thread(() => { sink ^= work() }))
      val t0 = System.nanoTime()
      ts.foreach(_.start()); ts.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }
    pass() // JIT + scheduler warm
    val best = math.min(pass(), pass())
    if (sink == 42L) System.err.println("")
    best
  }

  // Locale.ROOT: Bench's and Run's lines are parsed as JSON; f"%.3f"
  // under a comma-decimal default locale would emit 2,640 and corrupt
  // them.
  private[graft] def s3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Untimed hygiene between queries, shared by Bench and [[Run]]. */
  def cleanup(spark: SparkSession): Unit = {
    // localCheckpoint() persists at the RDD level, which clearCache()
    // (CacheManager-only) never touches — without this, every
    // checkpointing headliner's blocks accumulate across the whole
    // sequence and later queries measure the query PLUS the residue's
    // memory pressure (r12: graph_triangles 2.97 s standalone vs ~4.4 s
    // mid-sequence). Safe between queries: each build() constructs fresh
    // frames, so no later query can reference an earlier query's
    // checkpointed RDD.
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // Shuffle files and broadcast blocks are freed by ContextCleaner
    // only when the driver GCs their references — left alone, a
    // single-JVM sequence carries every earlier query's shuffle dirs
    // and broadcasts until the JVM happens to collect. Forcing the
    // collection between queries is untimed and makes each query
    // start from the same storage state (measured r13: together with
    // the unpersist, graph_triangles mid-sequence 4.5 s -> ~3.2 s).
    System.gc()
    // Defensive: queries are expected to own their materializations
    // (the LSH helpers localCheckpoint instead of cache since r7), but
    // any future cache() slipping into a query would otherwise have
    // later passes served from the CacheManager's plan match,
    // flattering min-of-3 into a cache-read benchmark. Drop all cached
    // plans so every pass pays full recompute.
    spark.catalog.clearCache()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus()
    val spark = GraftSession.local(cpus)
    // The bench must time the COMPLETE engine — fail loudly if a future
    // edit bypasses GraftSession.build and drops the post-reorder rules.
    GraftSession.requireComplete(spark)

    val defs = Queries.all.filter(_.bench)
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    val passes = scala.collection.mutable.LinkedHashMap[
      String, scala.collection.mutable.ArrayBuffer[Double]]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def once(record: Boolean): Unit = {
      defs.foreach { d =>
        val t0 = System.nanoTime()
        try {
          d.build(spark, sfDir).write.format("noop").mode("overwrite").save()
          if (record) {
            val t = (System.nanoTime() - t0) / 1e9
            times(d.name) = times.get(d.name).fold(t)(math.min(_, t))
            passes.getOrElseUpdate(d.name,
              scala.collection.mutable.ArrayBuffer[Double]()) += t
          }
        } catch {
          case e: Throwable =>
            if (record) {
              // Keep times/errors disjoint: an intermittent failure marks
              // the query errored rather than reporting the min of its
              // successful passes alongside an error for the same name.
              times.remove(d.name)
              errors(d.name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .take(200).replaceAll("[\"\\\\\n\r\t]", " ")
        }
        }
        cleanup(spark)
      }
    }
    // Warmup pass: JIT + whole-stage-codegen compilation + parquet footer
    // cache dominate a cold first query (~8s vs ~1s steady-state); the
    // engine's throughput is the warm number. Cold total is reported too.
    // Recorded time = min over 3 warm passes: single-shot times on a
    // shared machine carry multi-second GC/scheduler spikes (observed
    // 1.3s vs 10.5s for the same plan); the min is the reproducible
    // steady-state cost of the plan. all_passes carries every warm pass
    // time so a round-over-round delta is classifiable as noise vs
    // regression from the artifact alone (a plan regression shifts all
    // three passes; a scheduler spike inflates one).
    // Host-speed probes bracket the timed passes (r9 showed per-core
    // throughput can halve MID-session): cal_probe_s before, end after.
    val probeStart = calProbe()
    val probePar = calProbePar(cpus)
    val probeMem = calProbeMem(math.min(16, cpus))
    val c0 = System.nanoTime()
    once(record = false)
    val coldTotal = (System.nanoTime() - c0) / 1e9
    (1 to 3).foreach(_ => once(record = true))
    val probeEnd = calProbe()
    errors.keys.foreach { k => times.remove(k); passes.remove(k) }
    val qs = times.map { case (k, v) => "\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    val ps = passes.map { case (k, vs) =>
      "\"" + k + "\":" + vs.map(s3).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = times.values.sum
    val firstWarmTotal = passes.values.map(_.head).sum
    // The ONE printed line is the driver contract (same keys, same
    // timing methodology as every prior round) — but r12-r15 drivers
    // recorded `parsed: null` every round because the embedded
    // `all_passes` maps pushed the line past what their capture/parser
    // handles (~3 KB for 31 queries). Optimization r16: the line stays
    // COMPACT (min-of-warm-passes per query + errors + probes) and the
    // full per-pass detail moves, unabridged and in the previous
    // format, to the `detail` sidecar file — no number is dropped.
    val detailPath = java.nio.file.Paths.get("target", "bench_detail.json")
    java.nio.file.Files.createDirectories(detailPath.getParent)
    java.nio.file.Files.write(detailPath,
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"all_passes":$ps,"errors":$es,"cold_sec":${s3(coldTotal)},"first_warm_sec":${s3(firstWarmTotal)},"cal_probe_s":${s3(probeStart)},"cal_probe_end_s":${s3(probeEnd)},"cal_probe_par_s":${s3(probePar)},"cal_probe_mem_s":${s3(probeMem)},"sf":"$sfDir"}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$es,"cold_sec":${s3(coldTotal)},"first_warm_sec":${s3(firstWarmTotal)},"cal_probe_s":${s3(probeStart)},"cal_probe_end_s":${s3(probeEnd)},"cal_probe_par_s":${s3(probePar)},"cal_probe_mem_s":${s3(probeMem)},"detail":"target/bench_detail.json","sf":"$sfDir"}""")
    spark.stop()
  }
}

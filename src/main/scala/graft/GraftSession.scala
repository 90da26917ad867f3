package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's engine options (qpmodel `QueryOption`,
  * `/root/reference/qpmodel/Plan.cs:48-101`) — memo optimizer, property
  * enforcement, distributed exchanges — all of which map onto Catalyst
  * equivalents that we simply enable: CBO + join reorder (memo / join-order
  * solvers), AQE (runtime re-plan + skew handling), broadcast thresholds
  * (replicated distribution).
  *
  * Designed for cluster scale: nothing here is local-mode specific except
  * the default master. On a real cluster the same conf applies; AQE
  * coalesces the shuffle partition count down from the configured value.
  */
object GraftSession {

  /** Run `f` with one session conf temporarily set, restoring the
    * prior value (or unsetting an absent one) afterwards — the
    * save/set/restore pattern every off-vs-apply A/B harness needs
    * (reorder specs, soaks, the JOBENCH double-planning audit).
    */
  def withConf[T](spark: SparkSession, key: String, value: String)
                 (f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Apply graft engine configuration to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.cbo.joinReorder.enabled", "true")
    .config("spark.sql.statistics.histogram.enabled", "true")
    // Spark's default 10 MB, set explicitly as a documented choice: every
    // dimension the corpus broadcasts is well under it, and a LARGER
    // threshold only multiplies the blast radius of a CBO underestimate —
    // the r7 10x soak caught a 9-relation join statically broadcasting a
    // "small" intermediate that was really 1.3 GB (driver maxResultSize
    // abort). Estimates err; the threshold is the failure bound.
    .config("spark.sql.autoBroadcastJoinThreshold", (10L << 20).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // Codegen compile cache (STATIC conf — applies at JVM session
    // build). The default 100 entries thrashes under a multi-query
    // workload: ~30 headline queries × several whole-stage fragments
    // each evict one another, so every re-run of a query recompiles all
    // its fragments (~1-2 s of Janino for the big graph/ANN plans —
    // measured r13: graph_triangles 2.2 s run back-to-back vs 3.9 s the
    // moment 11 other queries run in between, storage residue ruled
    // out). A long-lived driver serving a query mix at cluster scale
    // hits the identical wall; tens of MB of class metadata is the
    // right trade for never recompiling a warm plan.
    .config("spark.sql.codegen.cache.maxEntries", "2000")
    // events.parquet carries TIMESTAMP(NANOS); read as long, converted in
    // Tables.load (Spark has no native nanos timestamp).
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir", targetDir("warehouse"))

  /** `target/<rel>` under the process working directory, absolute: where
    * the engine keeps its warehouse, generated corpora and the fixed
    * output directories of queries whose result reads files lazily. Run
    * from the repository root, that is the build's own `target/`.
    */
  def targetDir(rel: String): String =
    java.nio.file.Paths.get("target", rel).toAbsolutePath.toString

  /** Recursively delete [[targetDir]]`(rel)` if it exists, so a harness
    * that re-creates a managed database starts from an empty location.
    */
  def removeTargetDir(rel: String): Unit = removeDir(targetDir(rel))

  /** Recursively delete the file or directory at `path`, if it exists. */
  def removeDir(path: String): Unit = {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    rmrf(new java.io.File(path))
  }

  /** Target bytes of input per shuffle partition — Spark's own
    * `files.maxPartitionBytes` default (128 MB), so shuffle width tracks
    * scan width.
    */
  val BytesPerShufflePartition: Long = 128L << 20

  /** Initial shuffle-partition count derived from the input directory's
    * byte size: ceil(bytes / 32 MB) — 4× headroom over the 128 MB
    * input-per-partition target — floored at `cores` so small inputs
    * still use every core. This encodes two soak lessons in code rather
    * than an env var:
    *
    *  - r8 (1000×): 32 partitions OOM'd a 600M-row sort-merge join
    *    (~19M rows in one in-memory sort) that ran clean at 512 — the
    *    initial count must be a function of input size, never a
    *    constant;
    *  - r13 (100×): COMPRESSED bytes understate the in-flight working
    *    set (zstd parquet decodes 3–10×, and operators expand —
    *    tokenization, residual vectors), so the raw ceil(bytes/128 MB)
    *    under-provisioned exactly one decade later:
    *    `ann_ivf_pq_residual` ran 43 s at the derived 32 partitions vs
    *    10 s at 256 (second-decade exponent 1.32 → 0.68), and
    *    `pipeline_corpus_prep` 11.6 s vs 1.6 s. The 4× headroom keeps
    *    per-task working sets decoded-size-bounded.
    *
    * Over-provisioning is safe — AQE coalesces the excess at small
    * scale — while under-provisioning spills or OOMs, so the bias must
    * be up. On a real cluster the same derivation applies with the
    * filesystem's content summary.
    */
  def derivedShufflePartitions(dataDir: String, cores: Int): Int = {
    def sizeOf(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles).map(_.iterator.map(sizeOf).sum).getOrElse(0L)
      else f.length
    val bytes = sizeOf(new java.io.File(dataDir))
    val perPartition = BytesPerShufflePartition / 4 // compression headroom
    val needed = (bytes + perPartition - 1) / perPartition
    math.max(cores, needed).toInt
  }

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else every core the
    * host offers. The one place that variable is read.
    */
  def cpus(): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Local session for tests / entry. Shuffle partitions are
    * [[derivedShufflePartitions]] when the caller names its input dir,
    * else the core count (callers with no single input dir, e.g.
    * plan-only harnesses, where the data never exceeds core-count
    * scale). An explicit count is a runtime conf away
    * (`graft.Run --conf=spark.sql.shuffle.partitions=N`).
    */
  def local(cores: Int = cpus(), dataDir: Option[String] = None): SparkSession = {
    val parts = dataDir.map(derivedShufflePartitions(_, cores)).getOrElse(cores)
    build(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graft")
        .config("spark.sql.shuffle.partitions", parts.toString))
  }

  /** Finish constructing a configured session: getOrCreate plus an
    * eager [[ensurePostReorderRules]] (the extensions-injected installer
    * would do it on the first analysis anyway — see below — but mains
    * that introspect `experimental` before running a query deserve a
    * fully-formed session from the first line).
    */
  def build(b: SparkSession.Builder): SparkSession = {
    val s = configure(b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    ensurePostReorderRules(s)
    s
  }

  /** Rules that must run AFTER CostBasedJoinReorder go through
    * `experimental.extraOptimizations` (Spark's `User Provided
    * Optimizers` batch, the last logical batch) — `spark.sql.extensions`'
    * injectOptimizerRule lands in the operator-optimization batches
    * BEFORE join reorder, and a join hint planted there would disable
    * reordering for the whole chain.
    *
    * `experimental` is LIVE-SESSION state: `newSession()` clones build
    * fresh session state and drop it. Through r14 that made the rules
    * silently vanish on clones (each harness had to remember to
    * re-register). Since r15 [[graft.plans.GraftExtensions]] injects an
    * analyzer-side installer (`injectPostHocResolutionRule`) that calls
    * this on every analysis — extensions DO carry to `newSession()`
    * clones, so any session built from a graft-configured builder
    * self-repairs before its first optimization (analysis completes
    * before the optimizer's batch list, a `def`, reads
    * `extraOptimizations`). This method stays public as the eager form.
    *
    * Idempotent and per-rule (the r14 advisory: a session carrying only
    * ONE of the two is repaired, not wedged): each missing rule is
    * added, existing instances are kept, and the load-bearing order —
    * steer join order from the containment model FIRST, then certify
    * broadcasts on the final shape — is re-established if violated.
    * Synchronized on the session's `experimental` holder: the installer
    * can run from concurrent analyses.
    */
  def ensurePostReorderRules(s: SparkSession): Unit = {
    val exp = s.experimental
    exp.synchronized {
      val cur = exp.extraOptimizations
      val ri = cur.indexWhere(_.isInstanceOf[graft.plans.ContainmentJoinReorder])
      val ci = cur.indexWhere(
        _.isInstanceOf[graft.plans.ColumnGroupCertifiedBroadcast])
      if (ri < 0 || ci < 0 || ri > ci) {
        val others = cur.filterNot(r =>
          r.isInstanceOf[graft.plans.ContainmentJoinReorder] ||
            r.isInstanceOf[graft.plans.ColumnGroupCertifiedBroadcast])
        exp.extraOptimizations = others ++ Seq(
          if (ri >= 0) cur(ri) else new graft.plans.ContainmentJoinReorder,
          if (ci >= 0) cur(ci)
          else new graft.plans.ColumnGroupCertifiedBroadcast)
      }
    }
  }

  /** Assert the session IS the complete engine. The post-reorder rules
    * are live state and always repairable — so repair them (idempotent)
    * rather than fail. What is NOT repairable post-construction is the
    * extensions wiring itself (`spark.sql.extensions` is read when
    * session state builds): a session from a bare builder has no native
    * function registry, no ReplicatedTableHints, and no analyzer-side
    * rule installer. The canary is the extension-injected `vec_dot` —
    * present iff [[graft.plans.GraftExtensions]] loaded. Harness entry
    * points (Verify/Bench/soaks) call this at startup so the invariant
    * is self-enforcing rather than a comment.
    */
  def requireComplete(s: SparkSession): Unit = {
    ensurePostReorderRules(s)
    require(s.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot")),
      "incomplete engine: GraftExtensions is not loaded — construct the " +
        "session via GraftSession.build/local (spark.sql.extensions " +
        "carries to newSession() clones; a bare builder drops the native " +
        "function registry and the optimizer-rule installer)")
  }
}

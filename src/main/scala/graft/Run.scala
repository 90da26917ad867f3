package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The ad-hoc run harness: one session, one timing loop, one untimed
  * cleanup between queries and one JSON output line, for corpus queries
  * and for the named scale scenarios of [[Scenarios]]. [[Bench]] stays
  * the fixed headline contract; Run is everything else — scale soaks,
  * plan probes, `--conf` A/B arms.
  *
  * Corpus queries:
  *
  *   runMain graft.Run <dir> <query> [<query> ...] [--reps=N]
  *     [--conf=key=value ...] [--plans=<outDir>]
  *
  * Per query: one untimed warm-up through [[execute]], whose final
  * adaptive plan gives `skew_joins` ([[skewJoins]]); then `--reps`
  * (default 1) timed passes through the `noop` sink, build plus write —
  * Bench's timed region — reported as `sec` (the min) and `all`; then
  * [[Bench.cleanup]]. One line streams per query, so a crash mid-soak
  * keeps the partial results, then one JSON line follows.
  *
  * `--plans=<outDir>` writes each query's `explain("formatted")` to
  * `<outDir>/<query>.txt`, so plan claims in round notes are checkable
  * against committed artifacts. The dump is the INITIAL plan (pre-AQE),
  * the same determinism rationale as PlanGolden; the dir matters because
  * broadcast decisions are size-based.
  *
  * `--conf` sets runtime SQL confs on the session before any planning
  * (e.g. `spark.graft.graph.packedAdjacency=false` for an A/B probe, or
  * `spark.sql.shuffle.partitions=N` to override the input-size-derived
  * default). The skew recipe on a ScaleGen `zipf` corpus is five of them:
  * `spark.sql.shuffle.partitions=<cores>`,
  * `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes=16777216`,
  * `spark.sql.adaptive.advisoryPartitionSizeInBytes=8388608`,
  * `spark.sql.adaptive.skewJoin.skewedPartitionFactor=2.0` and
  * `spark.sql.adaptive.forceOptimizeSkewedJoin=true`.
  *  - The thresholds are scaled DOWN to the sandbox corpus (16 MB / 8 MB
  *    vs the 256 MB / 64 MB production defaults): at sf1 the planted hot
  *    key carries ~60 MB — the same double-digit fraction of the fact
  *    table that is GBs per key at 100 TB, where the DEFAULT thresholds
  *    fire on exactly this shape. The run asserts the mechanism
  *    end-to-end; the thresholds are the scale model.
  *  - The headliners re-aggregate on the join key downstream, so a split
  *    breaks the join output's hash distribution and AQE's
  *    OptimizeSkewedJoin declines by default (it would ADD a shuffle). At
  *    skew scale that trade inverts — one monster partition serializes
  *    the whole stage, while the extra exchange re-spreads already-reduced
  *    rows — so the recipe forces it, which is the production setting for
  *    a corpus known to carry Zipf heads.
  *  - Group-by skew needs no AQE analog: partial aggregation collapses the
  *    hot key map-side (one row per partition reaches the shuffle), which
  *    the timing rows for agg queries demonstrate.
  *
  * Scenarios:
  *
  *   runMain graft.Run @<id> [key=value ...] [--reps=N]
  *     [--conf=key=value ...]
  *
  * A scenario builds its own fixture, times its arms through
  * [[Ctx.time]] (`--reps` defaults to 3), keeps its own exactness checks
  * and ends with one JSON line of its timings. No cleanup runs between
  * its passes: a `localCheckpoint`ed fixture must survive them.
  */
object Run {
  import Bench.s3

  /** Min, median and every pass of one timed arm. */
  final case class Timing(passes: Seq[Double]) {
    def min: Double = passes.min
    def median: Double = {
      val s = passes.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
    def json: String = s"""{"min":${s3(min)},"median":${s3(median)},""" +
      s""""all":${passes.map(s3).mkString("[", ",", "]")}}"""
    override def toString: String =
      s"min=${s3(min)} med=${s3(median)} all=${passes.map(s3).mkString(",")}"
  }

  /** A parsed command line: corpus `queries` on `dir`, or a `scenario`
    * with its `params` (then `dir` is the `dir` parameter, if any).
    */
  final case class Cmd(dir: Option[String], queries: Seq[QueryDef],
                       scenario: Option[Scenarios.Scenario],
                       params: Map[String, String], reps: Int,
                       confs: Seq[(String, String)], plans: Option[String])

  /** Wall seconds of one run of `f`. */
  def secs(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** What a scenario body sees: the session, its parameters, and the one
    * timing loop, which records every arm for the scenario's JSON line.
    */
  final class Ctx(val spark: SparkSession, val id: String,
                  params: Map[String, String], reps: Int) {
    private[graft] val timings =
      scala.collection.mutable.LinkedHashMap[String, Timing]()
    def apply(key: String): String = params(key)
    def say(msg: String): Unit = println(s"[run] @$id $msg")
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    /** The one timing loop: every arm once untimed (JIT, codegen, scan
      * caches), then `reps` rounds that time each arm once, interleaved
      * in the given order so a drifting host (page cache, co-tenants)
      * biases no arm.
      */
    def time(arms: (String, () => Any)*): Seq[Timing] = {
      arms.foreach(_._2())
      val rounds = (1 to reps).map(_ => arms.map(a => secs(a._2())))
      arms.map(_._1).zipWithIndex.map { case (n, i) =>
        val t = Timing(rounds.map(_(i)))
        timings(n) = t
        say(s"$n $t")
        t
      }
    }
    def timed(label: String)(f: => Any): Timing = time(label -> (() => f)).head
  }

  /** Execute THIS QueryExecution and pull every row, discarding them
    * executor-side. A `write.save()` would plan a separate command
    * execution and leave df's own adaptive plan unfinalized — its
    * toString would show the initial plan with no skew markers
    * regardless of what ran. And the partition iterator must be drained:
    * `foreachPartition(_ => ())` never pulls a row, so the final stage's
    * work (the join itself) would never run.
    */
  def execute(df: DataFrame): Unit =
    df.queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())

  /** Join nodes AQE split for skew in `df`'s executed adaptive plan: a
    * split join node carries `skew=true` (AQEShuffleRead reports the
    * post-split partition count on its plan line). The pre-adaptive
    * "Initial Plan" section is cut off.
    */
  def skewJoins(df: DataFrame): Int =
    "skew=true".r.findAllIn(df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)).size

  def usage: String = {
    val scenarios = Scenarios.all.map { s =>
      "  @" + s.id + s.params.map {
        case (k, None) => s" $k=<value>"
        case (k, Some(v)) => s" [$k=$v]"
      }.mkString
    }
    (Seq(
      "usage: graft.Run <dir> <query> [<query> ...] [--reps=N] " +
        "[--conf=key=value ...] [--plans=<outDir>]",
      "       graft.Run @<id> [key=value ...] [--reps=N] " +
        "[--conf=key=value ...]",
      "scenarios:") ++ scenarios ++ Seq(
      "queries: " + Queries.all.map(_.name).mkString(" "))).mkString("\n")
  }

  private def keyValue(kv: String): Option[(String, String)] =
    kv.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => Some(k -> v)
      case _ => None
    }

  /** Parse and validate a command line without touching Spark; any
    * error throws IllegalArgumentException carrying [[usage]].
    */
  def parse(args: Seq[String]): Cmd = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg\n$usage")
    val (flags, positional) = args.partition(_.startsWith("--"))
    def flag(name: String): Seq[String] =
      flags.filter(_.startsWith(s"--$name=")).map(_.drop(name.length + 3))
    flags.filterNot(f => Seq("reps", "conf", "plans")
      .exists(n => f.startsWith(s"--$n="))).foreach(f => fail(s"unknown flag $f"))
    val reps = flag("reps").lastOption.map(r =>
      r.toIntOption.filter(_ >= 1).getOrElse(fail(s"--reps=$r: need N >= 1")))
    val confs = flag("conf").map(kv => keyValue(kv).getOrElse(
      fail(s"malformed --conf=$kv (expected --conf=key=value)")))
    val plans = flag("plans").lastOption
    positional match {
      case Seq(id, kvs @ _*) if id.startsWith("@") =>
        val s = Scenarios.byId.getOrElse(id.drop(1), fail(s"unknown scenario $id"))
        val declared = s.params.toMap
        val params = kvs.map { kv =>
          val (k, v) = keyValue(kv).getOrElse(
            fail(s"malformed parameter $kv (expected key=value)"))
          if (!declared.contains(k)) fail(s"$id takes no parameter $k")
          k -> v
        }.toMap
        val missing = declared.collect { case (k, None) if !params.contains(k) => k }
        if (missing.nonEmpty)
          fail(s"missing parameter(s) ${missing.mkString(", ")}")
        if (plans.nonEmpty) fail("--plans applies to corpus queries only")
        val withDefaults =
          declared.collect { case (k, Some(v)) => k -> v } ++ params
        Cmd(withDefaults.get("dir"), Nil, Some(s), withDefaults,
          reps.getOrElse(3), confs, None)
      case Seq(dir, names @ _*) if names.nonEmpty =>
        val defs = names.map(n => Queries.byName.getOrElse(n,
          fail(s"unknown query $n")))
        Cmd(Some(dir), defs, None, Map.empty, reps.getOrElse(1), confs, plans)
      case _ => fail("need <dir> and at least one query, or a scenario @<id>")
    }
  }

  /** Run corpus queries (see the object doc) and return the JSON line. */
  def runQueries(spark: SparkSession, dir: String, defs: Seq[QueryDef],
                 reps: Int, plans: Option[String]): String = {
    plans.foreach(p => Files.createDirectories(Paths.get(p)))
    val results = defs.map { d =>
      val warm = d.build(spark, dir)
      plans.foreach { p =>
        Files.write(Paths.get(p, s"${d.name}.txt"), warm.queryExecution
          .explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
      }
      execute(warm)
      val skew = skewJoins(warm)
      val t = Timing((1 to reps).map(_ => secs(
        d.build(spark, dir).write.format("noop").mode("overwrite").save())))
      Bench.cleanup(spark)
      println(s"[run] ${d.name} skew_joins=$skew $t")
      "\"" + d.name + "\":{\"sec\":" + s3(t.min) + ",\"skew_joins\":" + skew +
        ",\"all\":" + t.passes.map(s3).mkString("[", ",", "]") + "}"
    }
    s"""{"run":${results.mkString("{", ",", "}")},"dir":"$dir","reps":$reps}"""
  }

  /** Run one scenario and return its JSON line of timings. */
  def runScenario(spark: SparkSession, s: Scenarios.Scenario,
                  params: Map[String, String], reps: Int): String = {
    val ctx = new Ctx(spark, s.id, params, reps)
    s.body(ctx)
    val ts = ctx.timings.map { case (k, t) => "\"" + k + "\":" + t.json }
    s"""{"scenario":"${s.id}","timings":${ts.mkString("{", ",", "}")},""" +
      s""""reps":$reps}"""
  }

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val spark = GraftSession.local(dataDir = cmd.dir)
    GraftSession.requireComplete(spark)
    cmd.confs.foreach { case (k, v) =>
      spark.conf.set(k, v)
      println(s"[run] conf $k=$v")
    }
    println(cmd.scenario match {
      case Some(s) => runScenario(spark, s, cmd.params, cmd.reps)
      case None => runQueries(spark, cmd.dir.get, cmd.queries, cmd.reps, cmd.plans)
    })
    spark.stop()
  }
}

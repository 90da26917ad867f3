package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession, Queries, QueryDef}

/** The repository benchmark: one workload run by one client in a closed
  * loop, in one JVM on `local[cores]`.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1 --data DIR
  *        --out DIR --cores C
  *
  * Order of a run: session set-up (repeated, median reported); one cold
  * pass, which writes every answer as parquet under `out/check`, with
  * `oracle_sql.json` beside it, for the DuckDB compare; then
  * [[WarmupPasses]] untimed passes and timed passes until `--seconds`
  * have elapsed, at least [[MinTimedPasses]], all writing to the `noop`
  * sink. Between queries, as in [[graft.Bench]] and
  * untimed: persisted RDDs are unpersisted and the driver GCs; between
  * passes the cache is cleared. The seed sets only the order of queries
  * within each pass.
  *
  * With `--trace 1` the timed passes alternate between untraced and
  * traced ones; the traced ones feed the per-layer metrics and write
  * per-query rows (`out/trace/queries.jsonl`) and spans
  * (`out/trace/spans.jsonl`). The result is the last line of stdout, one
  * JSON object.
  */
object Main {
  final case class Workload(name: String, defs: Seq[QueryDef]) {
    /** `query_tail_ms` reports this percentile: the highest whole one that
      * leaves at least ten samples beyond it in the fewest samples a run
      * takes, so every run reports the same percentile.
      */
    val tailPercentile: Int = {
      val n = defs.size * MinTimedPasses
      math.max(50, (100.0 * (n - 10) / n).toInt)
    }
  }

  /** Every workload runs on the fixed sf0.01 testdata (TESTDATA.md), the
    * scale the DuckDB oracle is graded at; each is sized so that one run,
    * cold pass included, takes about a minute on 4 cores (NOTES.md).
    */
  val Scale = "sf0.01"

  /** Relational headliners: star joins with broadcast dimensions,
    * windows, a rollup and an as-of join.
    */
  val OlapQueries: Seq[String] = Seq(
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q9", "tpch_q18",
    "tpcds_q47_lag_lead", "tpcds_q51_onepass", "tpcds_q67_rollup_topk",
    "join_asof")

  /** LLM-pipeline headliners: the IVF-PQ model chain materialized inside
    * build, MinHash band joins, the graph shuffle, and the text and
    * vector kernels.
    */
  val PipelineQueries: Seq[String] = Seq(
    "dedup_exact", "dedup_minhash", "ann_brute_topk", "ann_ivf_pq",
    "text_stats", "text_bm25_topk", "graph_triangles")

  def workload(name: String): Workload = name match {
    case "olap" => Workload(name, OlapQueries.map(Queries.byName))
    case "pipeline" => Workload(name, PipelineQueries.map(Queries.byName))
    case other =>
      throw new IllegalArgumentException(s"unknown workload $other")
  }

  val SetupReps = 3
  /** Untimed passes after the cold one (NOTES.md has the measured curve). */
  val WarmupPasses = 1
  val MinTimedPasses = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val w = workload(arg("workload"))
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val out = Paths.get(arg("out")).toAbsolutePath
    val dir = Paths.get(arg("data"), Scale).toAbsolutePath.toString
    Files.createDirectories(out)
    new Run(w, seed, seconds, trace, cores, out, dir).run()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100 * s.size).toInt - 1))
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
  }
}

final class Run(w: Main.Workload, seed: Long, seconds: Double, trace: Boolean,
                cores: Int, out: Path, dir: String) {
  import Main._

  private val errorLines = ErrorLines.attach()
  private val threw = mutable.LinkedHashMap[String, String]()
  private var heapPeak = 0L
  private val rng = new scala.util.Random(seed)
  /** Wall seconds of each phase of the run, and of the untimed cleanup
    * within them: how the run spends its time budget.
    */
  private val phases = mutable.LinkedHashMap[String, Double]()
  private var lastMark = System.nanoTime()
  private var cleanupNs = 0L
  private def mark(phase: String): Unit = {
    val now = System.nanoTime()
    phases(phase) = (now - lastMark) / 1e9
    lastMark = now
  }

  /** Session builder that keeps the warehouse inside the output dir:
    * `GraftSession.configure` sets its own default, and this override
    * applies last.
    */
  private def builder(): SparkSession.Builder = {
    val warehouse = out.resolve("warehouse").toString
    val b = new SparkSession.Builder() {
      override def getOrCreate(): SparkSession = {
        config("spark.sql.warehouse.dir", warehouse)
        super.getOrCreate()
      }
    }
    b.master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    b
  }

  def run(): Unit = {
    // Set-up: session build plus catalog registration, repeated; the
    // last session serves the run.
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = GraftSession.build(builder())
      val t1 = System.nanoTime()
      graft.catalog.Tables.registerAll(s, dir)
      val t2 = System.nanoTime()
      if (i < SetupReps) s.stop()
      (s, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    implicit val spark: SparkSession = setups.last._1
    GraftSession.requireComplete(spark)
    spark.conf.set("spark.sql.streaming.checkpointLocation",
      out.resolve("checkpoints").toString)

    mark("setup")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val c0 = Counters.now()
    val checkDir = out.resolve("check")
    val coldMs = pass(None, 0, Some(checkDir))
    val cold = coldMs.values.sum
    val coldCodegen = Counters.now() - c0
    Files.createDirectories(checkDir)
    Files.write(checkDir.resolve("oracle_sql.json"), json(w.defs.collect {
      case d if coldMs.contains(d.name) && d.oracle.isDefined =>
        d.name -> d.oracle.get }.toMap).getBytes(UTF_8))
    mark("cold")
    (1 to WarmupPasses).foreach(_ => pass(None, 0))
    mark("warmup")

    // Timed passes. Traced runs pair each untraced pass with a traced one,
    // swapping which goes first from pair to pair so that the overhead
    // ratio is not biased by passes still getting faster; two pairs keep
    // them short.
    val untraced = ArrayBuffer[collection.Map[String, Double]]()
    val traced = ArrayBuffer[Seq[QueryStats]]()
    val warmCompiles = ArrayBuffer[Double]()
    def tracedPass(t: Tracer, n: Int): Unit = {
      t.attach()
      val stats = ArrayBuffer[QueryStats]()
      val c = Counters.now()
      pass(Some((t, stats)), n)
      warmCompiles += (Counters.now() - c).compiles.toDouble
      t.detach()
      traced += stats.toSeq
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    val minPasses = if (trace) 2 else MinTimedPasses
    while (n < minPasses || System.nanoTime() < deadline) {
      n += 1
      if (n % 2 == 0) tracer.foreach(tracedPass(_, n))
      untraced += pass(None, n)
      if (n % 2 == 1) tracer.foreach(tracedPass(_, n))
    }
    mark("timed")
    val probes = if (trace)
      Some((Bench.calProbe(), Bench.calProbePar(cores))) else None
    mark("probes")
    phases("cleanup") = cleanupNs / 1e9

    val passWall = untraced.map(_.values.sum / 1000)
    val samples = untraced.flatMap(_.values).toSeq
    val tail = w.tailPercentile.toDouble
    val endToEnd = Seq(
      "setup_s" -> median(setups.map(s => (s._2 + s._3) / 1000)),
      "cold_pass_s" -> cold / 1000,
      "warm_pass_s" -> median(passWall.toSeq),
      "query_p50_ms" -> median(samples),
      "query_tail_ms" -> percentile(samples, tail),
      "driver_heap_mb" -> heapPeak / 1048576.0)
    val perLayer = probes.toSeq.flatMap { case (probe, probePar) =>
      layerMetrics(traced.toSeq, passWall.toSeq, setups.map(_._2),
        setups.map(_._3), coldCodegen, warmCompiles.toSeq, probe, probePar)
    }
    if (trace) writeTrace(traced.toSeq)

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "scale" -> Scale, "seed" -> seed,
      "trace" -> trace, "cores" -> cores, "queries" -> w.defs.size,
      "timed_passes" -> n, "samples" -> samples.size,
      "tail_percentile" -> tail,
      "tail_beyond" -> samples.count(_ > percentile(samples, tail)),
      "threw" -> threw,
      "error_lines" -> errorLines.total.get,
      "lost_accumulator_lines" -> errorLines.lostAccumulator.get,
      "end_to_end" -> endToEnd.toMap,
      "per_layer" -> perLayer.toMap,
      "pass_wall_s" -> passWall,
      "phase_s" -> phases,
      "setup_ms" -> setups.map(s => Seq(s._2, s._3)),
      "cold_ms" -> coldMs,
      "warm_median_ms" -> w.defs.map(d => d.name -> median(
        untraced.flatMap(_.get(d.name)).toSeq)).toMap)
    spark.stop()
    println(json(result))
  }

  /** Runs every query once in seed order; returns wall ms of each query
    * that completed. Each result goes to the `noop` sink, or with
    * `answers` to parquet under `answers/<name>`. With a tracer, each
    * query run is one span.
    */
  private def pass(traced: Option[(Tracer, ArrayBuffer[QueryStats])],
                   n: Int, answers: Option[Path] = None)
                  (implicit spark: SparkSession)
      : collection.Map[String, Double] = {
    val walls = mutable.LinkedHashMap[String, Double]()
    rng.shuffle(w.defs).zipWithIndex.foreach { case (d, i) =>
      val q = traced.map { case (t, _) => t.begin(d.name, n, i) }
      val t0 = System.nanoTime()
      val ok = try {
        val df = d.build(spark, dir)
        traced.foreach { case (t, _) => t.built(q.get, df) }
        answers match {
          case Some(a) =>
            df.write.mode("overwrite").parquet(a.resolve(d.name).toString)
          case None => df.write.format("noop").mode("overwrite").save()
        }
        true
      } catch {
        case NonFatal(e) =>
          threw.getOrElseUpdate(d.name,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          false
      }
      val ms = (System.nanoTime() - t0) / 1e6
      traced.foreach { case (t, acc) => t.end(q.get, ok); acc += q.get }
      if (ok) walls(d.name) = ms
      cleanup()
    }
    spark.catalog.clearCache()
    walls
  }

  /** Untimed between-query hygiene, as in [[graft.Bench]]; also samples
    * the heap after the collection.
    */
  private def cleanup()(implicit spark: SparkSession): Unit = {
    val t0 = System.nanoTime()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    System.gc()
    heapPeak = math.max(heapPeak,
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    cleanupNs += System.nanoTime() - t0
  }

  private def layerMetrics(traced: Seq[Seq[QueryStats]], passWall: Seq[Double],
                           buildMs: Seq[Double], registerMs: Seq[Double],
                           cold: Counters, warmCompiles: Seq[Double],
                           probe: Double, probePar: Double)
      : Seq[(String, Double)] = {
    // Per traced pass: sum each per-query metric over the pass.
    val sums = traced.map { qs =>
      qs.flatMap(_.row).groupMapReduce(_._1)(_._2)(_ + _) }
    def med(k: String) = median(sums.map(_(k)))
    def medOf(f: collection.Map[String, Double] => Double) = median(sums.map(f))
    val tracedWall = traced.map(_.map(_.wallMs.toDouble).sum / 1000)
    Seq(
      "session.build_ms" -> median(buildMs),
      "catalog.register_ms" -> median(registerMs),
      "catalog.scan_bytes" -> med("catalog.scan_bytes"),
      "queries.build_ms" -> med("queries.build_ms"),
      "queries.build_jobs" -> med("queries.build_jobs"),
      "operators.persisted_rdds" -> med("operators.persisted_rdds"),
      "catalyst.executions" -> med("catalyst.executions") / w.defs.size,
      "catalyst.analysis_ms" -> med("catalyst.analysis_ms"),
      "catalyst.optimization_ms" -> med("catalyst.optimization_ms"),
      "catalyst.planning_ms" -> med("catalyst.planning_ms"),
      "catalyst.rule_ms" -> med("catalyst.rule_ms"),
      "catalyst.effective_rule_ratio" -> medOf(s =>
        s("catalyst.effective_rule_runs") / math.max(1.0, s("catalyst.rule_runs"))),
      "plans.graft_rule_ms" -> med("plans.graft_rule_ms"),
      "codegen.compiles" -> cold.compiles.toDouble,
      "codegen.compile_ms" -> cold.compileNs / 1e6,
      "codegen.warm_compiles" -> median(warmCompiles),
      "exec.jobs" -> med("exec.jobs"),
      "exec.stages" -> med("exec.stages"),
      "exec.tasks" -> med("exec.tasks"),
      "exec.job_wall_ms" -> med("exec.job_wall_ms"),
      "exec.driver_gap_ms" -> med("exec.driver_gap_ms"),
      "exec.broadcasts" -> med("exec.broadcasts"),
      "exec.broadcast_ms" -> med("exec.broadcast_ms"),
      "exec.broadcast_bytes" -> med("exec.broadcast_bytes"),
      "exec.task_run_ms" -> med("exec.task_run_ms"),
      "exec.task_cpu_ms" -> med("exec.task_cpu_ms"),
      "exec.task_gc_ms" -> med("exec.task_gc_ms"),
      "exec.core_busy_ratio" -> medOf(s =>
        s("exec.task_run_ms") / math.max(1.0, s("exec.job_wall_ms") * cores)),
      "exec.shuffle_read_bytes" -> med("exec.shuffle_read_bytes"),
      "exec.shuffle_write_bytes" -> med("exec.shuffle_write_bytes"),
      "exec.spill_bytes" -> med("exec.spill_bytes"),
      "exec.stage_skew" -> median(traced.map(qs =>
        qs.map(_.stageSkew).foldLeft(1.0)(math.max))),
      "log.error_lines" -> errorLines.total.get.toDouble,
      "host.cal_probe_s" -> probe,
      "host.cal_probe_par_s" -> probePar,
      "trace.overhead_ratio" -> median(tracedWall) / median(passWall))
  }

  private def writeTrace(traced: Seq[Seq[QueryStats]]): Unit = {
    val dirT = Files.createDirectories(out.resolve("trace"))
    val rows = traced.flatten.map { q =>
      json(mutable.LinkedHashMap[String, Any]("span" -> q.span,
        "query" -> q.name, "pass" -> q.pass, "ok" -> q.ok) ++ q.row)
    }
    val spans = traced.flatten.flatMap(_.spans).map {
      case (id, parent, name, s, e) => json(mutable.LinkedHashMap[String, Any](
        "span" -> id, "parent" -> (if (parent.isEmpty) None else Some(parent)),
        "name" -> name, "start_ms" -> s, "end_ms" -> e))
    }
    Files.write(dirT.resolve("queries.jsonl"),
      rows.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.write(dirT.resolve("spans.jsonl"),
      spans.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

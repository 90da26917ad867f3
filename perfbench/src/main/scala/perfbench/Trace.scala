package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts ERROR events from every logger, through an appender on the
  * root logger. Attached once per JVM, before the first session.
  */
final class ErrorLines extends AbstractAppender(
    "perfbench-error-lines", null, null, true, Property.EMPTY_ARRAY) {
  val total = new AtomicLong
  /** `Failed to update accumulator …`: task metrics whose accumulator
    * the driver already dropped.
    */
  val lostAccumulator = new AtomicLong

  override def append(e: LogEvent): Unit =
    if (e.getLevel.isMoreSpecificThan(Level.ERROR)) {
      total.incrementAndGet()
      val m = Option(e.getMessage).map(_.getFormattedMessage).getOrElse("")
      if (m.contains("Failed to update accumulator"))
        lostAccumulator.incrementAndGet()
    }
}

object ErrorLines {
  def attach(): ErrorLines = {
    val app = new ErrorLines
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.ERROR, null)
    ctx.updateLoggers()
    app
  }
}

/** Process-wide Catalyst and codegen counters, read as deltas around a
  * query or a pass.
  */
final case class Counters(compiles: Long, compileNs: Long) {
  def -(o: Counters): Counters =
    Counters(compiles - o.compiles, compileNs - o.compileNs)
}

object Counters {
  def now(): Counters = Counters(
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    CodeGenerator.compileTime)
}

/** Everything the tracer learns about one traced query run. Fields are
  * written on the listener-bus thread and read by the client thread
  * after [[org.apache.spark.perfbench.ListenerBus.drain]].
  */
final class QueryStats(val span: String, val name: String, val pass: Int) {
  var startMs = 0L
  var buildEndMs = 0L
  var endMs = 0L
  var ok = true
  var persistedRdds = 0
  var ruleNs = 0L
  var ruleRuns = 0L
  var ruleEffectiveRuns = 0L
  var graftRuleNs = 0L
  var compiles = 0L
  var compileNs = 0L
  // listener-fed
  val jobStarts = mutable.Map[Int, (Long, Boolean)]()
  val jobs = ArrayBuffer[(Int, Long, Long, Boolean)]() // id, start, end, in build
  val stages = mutable.Set[Int]()
  val stageTaskMs = mutable.Map[(Int, Int), ArrayBuffer[Long]]()
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var taskGcMs = 0L
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executions = 0
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var broadcasts = 0
  var broadcastMs = 0L
  var broadcastBytes = 0L

  def wallMs: Long = endMs - startMs
  def buildMs: Long = buildEndMs - startMs

  /** Length of the union of this query's job intervals. */
  def jobWallMs: Long = {
    val iv = jobs.map { case (_, s, e, _) =>
      (math.max(s, startMs), math.min(e, endMs)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var covered = 0L
    var (cs, ce) = (-1L, -1L)
    iv.foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) covered += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) covered += ce - cs
    covered
  }

  /** Maximum over stages with two or more tasks of max ÷ median task run
    * time; 1 when no stage has two tasks.
    */
  def stageSkew: Double = stageTaskMs.values.filter(_.size >= 2).map { ts =>
    val s = ts.sorted
    s.last.toDouble / math.max(1L, s((s.size - 1) / 2))
  }.foldLeft(1.0)(math.max)

  /** The per-query row, metric name -> value. */
  def row: Seq[(String, Double)] = Seq(
    "wall_ms" -> wallMs.toDouble,
    "queries.build_ms" -> buildMs.toDouble,
    "queries.build_jobs" -> jobs.count(_._4).toDouble,
    "operators.persisted_rdds" -> persistedRdds.toDouble,
    "catalyst.executions" -> executions.toDouble,
    "catalyst.analysis_ms" -> analysisMs.toDouble,
    "catalyst.optimization_ms" -> optimizationMs.toDouble,
    "catalyst.planning_ms" -> planningMs.toDouble,
    "catalyst.rule_ms" -> ruleNs / 1e6,
    "catalyst.rule_runs" -> ruleRuns.toDouble,
    "catalyst.effective_rule_runs" -> ruleEffectiveRuns.toDouble,
    "plans.graft_rule_ms" -> graftRuleNs / 1e6,
    "codegen.compiles" -> compiles.toDouble,
    "codegen.compile_ms" -> compileNs / 1e6,
    "catalog.scan_bytes" -> inputBytes.toDouble,
    "exec.jobs" -> jobs.size.toDouble,
    "exec.stages" -> stages.size.toDouble,
    "exec.tasks" -> tasks.toDouble,
    "exec.job_wall_ms" -> jobWallMs.toDouble,
    "exec.driver_gap_ms" -> math.max(0L, wallMs - jobWallMs).toDouble,
    "exec.broadcasts" -> broadcasts.toDouble,
    "exec.broadcast_ms" -> broadcastMs.toDouble,
    "exec.broadcast_bytes" -> broadcastBytes.toDouble,
    "exec.task_run_ms" -> taskRunMs.toDouble,
    "exec.task_cpu_ms" -> taskCpuNs / 1e6,
    "exec.task_gc_ms" -> taskGcMs.toDouble,
    "exec.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "exec.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "exec.spill_bytes" -> spillBytes.toDouble,
    "exec.stage_skew" -> stageSkew)

  /** Spans: the query, its build and write phases, and each job under the
    * phase that submitted it. Times are epoch milliseconds.
    */
  def spans: Seq[(String, String, String, Long, Long)] = {
    val q = (span, "", s"query:$name", startMs, endMs)
    val b = (s"$span/build", span, "build", startMs, buildEndMs)
    val w = (s"$span/write", span, "write", buildEndMs, endMs)
    Seq(q, b, w) ++ jobs.sortBy(_._2).map { case (id, s, e, inBuild) =>
      (s"$span/job$id", if (inBuild) b._1 else w._1, "job", s, e) }
  }
}

/** The traced run's listeners: a SparkListener for jobs, stages and task
  * metrics, and a QueryExecutionListener for `qe.tracker` phases and the
  * final plan's broadcast metrics. Catalyst rule metrics and codegen
  * counters are read as deltas around each query. Each query run gets a
  * span id, set as a local property that its jobs inherit (broadcast
  * jobs too: Spark copies local properties to its exchange threads).
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._
  private val sc = spark.sparkContext
  private val bySpan = new ConcurrentHashMap[String, QueryStats]()
  private val byJob = new ConcurrentHashMap[Int, QueryStats]()
  private val byStage = new ConcurrentHashMap[Int, QueryStats]()
  @volatile private var current: QueryStats = _
  private var before: Counters = _

  def attach(): Unit = {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    bySpan.clear(); byJob.clear(); byStage.clear()
  }

  def begin(name: String, pass: Int, seq: Int): QueryStats = {
    val q = new QueryStats(s"p$pass/q$seq/$name", name, pass)
    bySpan.put(q.span, q)
    current = q
    sc.setLocalProperty(SpanKey, q.span)
    sc.setLocalProperty(PhaseKey, "build")
    RuleExecutor.resetMetrics()
    before = Counters.now()
    q.startMs = System.currentTimeMillis()
    q
  }

  /** `built` is the DataFrame the query's build returned: its own
    * analysis ran inside build and never reaches the listener (the write
    * analyzes a new plan around it), so its tracker is read here.
    */
  def built(q: QueryStats, df: DataFrame): Unit = {
    q.buildEndMs = System.currentTimeMillis()
    sc.setLocalProperty(PhaseKey, "write")
    q.persistedRdds = sc.getPersistentRDDs.size
    q.synchronized {
      q.analysisMs += phaseMs(df.queryExecution, "analysis")
    }
  }

  def end(q: QueryStats, ok: Boolean): Unit = {
    q.endMs = System.currentTimeMillis()
    if (q.buildEndMs == 0L) q.buildEndMs = q.endMs
    q.ok = ok
    sc.setLocalProperty(SpanKey, null)
    sc.setLocalProperty(PhaseKey, null)
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    current = null
    val c = Counters.now() - before
    q.compiles = c.compiles
    q.compileNs = c.compileNs
    val m = RuleExecutor.getCurrentMetrics()
    q.ruleNs = m.time
    q.ruleRuns = m.numRuns
    q.ruleEffectiveRuns = m.numEffectiveRuns
    q.graftRuleNs = graftRuleNs(RuleExecutor.dumpTimeSpent())
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    val q = if (span == null) null else bySpan.get(span)
    if (q != null) q.synchronized {
      val inBuild = e.properties.getProperty(PhaseKey) == "build"
      q.jobStarts(e.jobId) = (e.time, inBuild)
      byJob.put(e.jobId, q)
      e.stageInfos.foreach(s => byStage.put(s.stageId, q))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val q = byJob.get(e.jobId)
    if (q != null) q.synchronized {
      q.jobStarts.remove(e.jobId).foreach { case (s, inBuild) =>
        q.jobs += ((e.jobId, s, e.time, inBuild)) }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val q = byStage.get(e.stageInfo.stageId)
    if (q != null) q.synchronized { q.stages += e.stageInfo.stageId }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val q = byStage.get(e.stageId)
    val m = e.taskMetrics
    if (q != null && m != null) q.synchronized {
      q.tasks += 1
      q.taskRunMs += m.executorRunTime
      q.taskCpuNs += m.executorCpuTime
      q.taskGcMs += m.jvmGCTime
      q.inputBytes += m.inputMetrics.bytesRead
      q.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      q.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      q.spillBytes += m.diskBytesSpilled
      q.stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val q = current
    if (q != null) q.synchronized {
      q.executions += 1
      q.analysisMs += phaseMs(qe, "analysis")
      q.optimizationMs += phaseMs(qe, "optimization")
      q.planningMs += phaseMs(qe, "planning")
      broadcastsOf(qe.executedPlan).foreach { b =>
        def v(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
        q.broadcasts += 1
        q.broadcastMs += v("collectTime") + v("buildTime") + v("broadcastTime")
        q.broadcastBytes += v("dataSize")
      }
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val PhaseKey = "perfbench.phase"

  def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  /** Every broadcast exchange that ran in a final plan, through adaptive
    * query stages and subqueries; a reused exchange is counted once, at
    * its original.
    */
  def broadcastsOf(root: SparkPlan): Seq[BroadcastExchangeExec] = {
    val out = ArrayBuffer[BroadcastExchangeExec]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec =>
        case b: BroadcastExchangeExec => out += b; walk(b.child)
        case _ => p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  private val RuleLine = """^(\S+)\s+\d+ / (\d+)\s+\d+ / \d+\s*$""".r

  /** Total time of the engine's own `graft.plans` rules, from Catalyst's
    * rule-metrics dump (one line per rule: name, effective / total ns,
    * effective / total runs).
    */
  def graftRuleNs(dump: String): Long = dump.linesIterator.collect {
    case RuleLine(rule, total) if rule.startsWith("graft.plans.") =>
      total.toLong
  }.sum
}

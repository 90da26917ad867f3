package graft

import org.scalatest.funsuite.AnyFunSuite
import java.io.RandomAccessFile
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

import graft.catalog.Tables

/** Session set-up contracts:
  *  - shuffle-partition derivation (the r8 1000x-soak lesson in code):
  *    the initial count must grow with input bytes, floored at the core
  *    count;
  *  - catalog registration is metadata only: schemas come from parquet
  *    footers read on the driver, equal to what Spark's own inference
  *    job would return, and registering submits no Spark job.
  */
class SessionSpec extends AnyFunSuite {

  private def withDir(test: java.io.File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-session-spec").toFile
    try test(dir) finally GraftSession.removeDir(dir.getPath)
  }

  /** Sparse file: length() reports the logical size without writing it. */
  private def sparse(dir: java.io.File, name: String, bytes: Long): Unit = {
    val raf = new RandomAccessFile(new java.io.File(dir, name), "rw")
    try raf.setLength(bytes) finally raf.close()
  }

  test("small input floors at the core count") {
    withDir { dir =>
      sparse(dir, "t.parquet", 1L << 20) // 1 MB
      assert(GraftSession.derivedShufflePartitions(dir.getPath, 32) === 32)
    }
  }

  test("large input derives ceil(bytes / 32MB) — 4x compression " +
    "headroom over the 128MB target — recursing into subdirs") {
    withDir { dir =>
      val sub = new java.io.File(dir, "lineitem.parquet")
      assert(sub.mkdir())
      sparse(sub, "part-0.parquet", 300L << 20) // 300 MB
      sparse(dir, "orders.parquet", 200L << 20) // 200 MB
      // 500 MB / 32 MB -> ceil = 16, above cores=2 (the r13 100x soak
      // lesson: compressed input bytes understate in-flight working
      // sets, so the derivation biases up and AQE coalesces the excess)
      assert(GraftSession.derivedShufflePartitions(dir.getPath, 2) === 16)
      // but still floored at a larger core count
      assert(GraftSession.derivedShufflePartitions(dir.getPath, 32) === 32)
    }
  }

  test("missing dir degrades to the core floor, not an exception") {
    assert(GraftSession.derivedShufflePartitions("/nonexistent/xyz", 16) === 16)
  }

  /** Spark jobs submitted by `f` on this thread, counted by a
    * SparkListener. `f` runs under its own job group; a marker job in
    * another group follows it, and since the bus delivers job starts in
    * submission order, every job of `f` has been counted once the
    * marker's start arrives.
    */
  private def jobsOf(spark: SparkSession)(f: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("session-spec-f", "jobs under test")
      try f finally sc.clearJobGroup()
      sc.setJobGroup("session-spec-marker", "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      var seen = Vector.empty[String]
      while (!seen.contains("session-spec-marker")) {
        val g = groups.poll(60, java.util.concurrent.TimeUnit.SECONDS)
        assert(g != null, "marker job start never reached the listener")
        seen :+= g
      }
      seen.count(_ == "session-spec-f")
    } finally sc.removeSparkListener(listener)
  }

  test("registerAll on a fresh session submits zero Spark jobs") {
    val fresh = TestSpark.spark.newSession()
    // The counter sees inference jobs: a plain read infers in a job.
    assert(jobsOf(fresh)(
      fresh.read.parquet(s"${TestSpark.sf001Dir}/orders.parquet")) > 0)
    assert(jobsOf(fresh)(Tables.registerAll(fresh, TestSpark.sf001Dir)) === 0)
    assert(Tables.names.forall(fresh.catalog.tableExists))
  }

  test("footer schemas equal Spark's inferred schemas for all sf0.01 tables") {
    val spark = TestSpark.spark.newSession()
    Tables.registerAll(spark, TestSpark.sf001Dir)
    val conf = spark.sessionState.newHadoopConf()
    Tables.names.foreach { n =>
      val path = s"${TestSpark.sf001Dir}/$n.parquet"
      val inferred = spark.read.parquet(path)
      assert(FooterSchema.read(spark, new Path(path), conf) === inferred.schema,
        s"footer schema of $n")
      // events: both sides go through the same nanos -> timestamp step.
      val expected =
        if (n == "events") Tables.normalizeTs(inferred).schema
        else inferred.schema
      assert(spark.table(n).schema === expected, s"view schema of $n")
    }
  }

  test("footer schema of a Spark-written multi-part dir with _SUCCESS, " +
    "plain and under mergeSchema") {
    val spark = TestSpark.spark
    withDir { tmp =>
      val dir = new java.io.File(tmp, "t.parquet")
      spark.range(0, 300, 1, 3)
        .selectExpr("id", "cast(id as string) AS s", "array(id, id) AS a",
          "named_struct('x', id * 0.5D, 'y', id % 7 = 0) AS st")
        .write.parquet(dir.getPath)
      val parts = dir.list().filter(n => n.startsWith("part-"))
      assert(new java.io.File(dir, "_SUCCESS").exists() && parts.length > 1)
      val conf = spark.sessionState.newHadoopConf()
      // Spark-written footers keep the writer's non-null fields; the
      // reader makes any data schema nullable, supplied or inferred.
      def supplied = spark.read
        .schema(FooterSchema.read(spark, new Path(dir.getPath), conf))
        .parquet(dir.getPath).schema
      assert(supplied === spark.read.parquet(dir.getPath).schema)
      assert(Tables.load(spark, tmp.getPath, "t").schema ===
        spark.read.parquet(dir.getPath).schema)
      // A missing table fails as a plain read of it does.
      val missing = intercept[AnalysisException](
        Tables.load(spark, tmp.getPath, "missing"))
      assert(missing.getCondition === "PATH_NOT_FOUND")
      // A part with an extra column: only a merged read sees it.
      spark.range(0, 10, 1, 1).selectExpr("id", "id * 2 AS extra")
        .write.mode("append").parquet(dir.getPath)
      GraftSession.withConf(spark, "spark.sql.parquet.mergeSchema", "true") {
        assert(supplied.fieldNames.contains("extra"))
        assert(supplied === spark.read.parquet(dir.getPath).schema)
      }
    }
  }
}

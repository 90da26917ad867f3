package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** Streaming windows over the FIXTURES.md §2 `ast` rows (reference
  * streaming tests `/root/reference/test/UnitTest.cs:3673-3704`), executed
  * through a real unbounded source (MemoryStream) — not the reference's
  * no-op stream scan (Stream.cs:183-194).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  // ast.tbl rows: 2020-05-12 07:22:16 / 17 / 26 / 28 / 56 (FIXTURES.md §2)
  private val astTimes = Seq(16, 17, 26, 28, 56)
    .map(s => Timestamp.valueOf(f"2020-05-12 07:22:$s%02d"))

  private def runWindowed(groupExpr: String): Map[Timestamp, Long] = {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Timestamp]
    mem.addData(astTimes: _*)
    graft.streaming.Streams.runToMemory(
      mem.toDF().withColumnRenamed("value", "a0")
        .groupBy(expr(groupExpr)).count()
        .selectExpr("window.start AS ws", "count"),
      s"ast_${groupExpr.hashCode.abs}")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
  }

  test("tumbling window groups 2;2;1 (reference UnitTest.cs:3685-3694)") {
    val got = runWindowed("window(a0, '10 seconds')")
    assert(got == Map(
      Timestamp.valueOf("2020-05-12 07:22:10") -> 2L,
      Timestamp.valueOf("2020-05-12 07:22:20") -> 2L,
      Timestamp.valueOf("2020-05-12 07:22:50") -> 1L))
  }

  test("hopping window size 10s slide 5s: each event in two windows") {
    val got = runWindowed("window(a0, '10 seconds', '5 seconds')")
    assert(got.values.sum == 10, got)   // 5 events x 2 windows
    assert(got(Timestamp.valueOf("2020-05-12 07:22:10")) == 2L)
    assert(got(Timestamp.valueOf("2020-05-12 07:22:20")) == 2L)
    assert(got(Timestamp.valueOf("2020-05-12 07:22:55")) == 1L)
  }

  test("session window with 10s gap: sessions of 4 and 1") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Timestamp]
    mem.addData(astTimes: _*)
    // streaming session windows require a grouping key alongside the
    // window (global session aggregation is unsupported) — use a
    // constant key, dropped on output
    val got = graft.streaming.Streams.runToMemory(
      mem.toDF().withColumnRenamed("value", "a0")
        .withWatermark("a0", "0 seconds")
        .withColumn("k", lit(1))
        .groupBy($"k", session_window($"a0", "10 seconds")).count()
        .selectExpr("session_window.start AS ss", "count"),
      "ast_session")
      .collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    assert(got == Map(
      Timestamp.valueOf("2020-05-12 07:22:16") -> 4L,
      Timestamp.valueOf("2020-05-12 07:22:56") -> 1L))
  }

  test("mapGroupsWithState carries per-key state across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.Streams.{UserEvent, UserTotals, runningUserTotals}
    val mem = MemoryStream[UserEvent]
    val q = runningUserTotals(mem.toDS())
      .writeStream.format("memory").queryName("user_totals")
      .outputMode("update")
      .start()
    try {
      mem.addData(UserEvent(1, 2.0), UserEvent(1, 3.0), UserEvent(2, 1.0))
      q.processAllAvailable()
      mem.addData(UserEvent(1, 5.0)) // second batch: state must survive
      q.processAllAvailable()
      val latest = spark.table("user_totals").as[UserTotals].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
      assert(latest(1L).n_events == 3 && latest(1L).total == 10.0)
      assert(latest(2L).n_events == 1 && latest(2L).total == 1.0)
    } finally q.stop()
  }

  test("RocksDB store: dropDuplicatesWithinWatermark evicts state past the watermark") {
    // Production posture: the corpus-gate streams run AvailableNow over
    // bounded input, so watermark eviction never actually fires there.
    // This test drives a multi-batch MemoryStream under the RocksDB
    // state store (what a 100 TB ingest would run) far enough that the
    // watermark passes a key's state, then RE-SENDS the key: the second
    // emission is only possible if the first key's state was evicted —
    // behavioral proof, not a metric read.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    def ts(sec: Int) = java.sql.Timestamp.from(
      Timestamp.valueOf("2020-05-12 08:00:00").toInstant.plusSeconds(sec))
    val mem = MemoryStream[(Long, Timestamp)]
    val q = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "10 seconds")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.format("memory").queryName("rocks_dedup")
      .outputMode("append")
      .start()
    try {
      mem.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(5)))
      q.processAllAvailable()            // key 1 deduped within the batch
      mem.addData((9L, ts(100)))
      q.processAllAvailable()            // max event time -> 100
      mem.addData((8L, ts(101)))
      q.processAllAvailable()            // watermark 90: keys 1,2 evicted
      mem.addData((1L, ts(95)))          // 95 > watermark, key 1 state gone
      q.processAllAvailable()
      val ks = s2.table("rocks_dedup").collect().map(_.getLong(0)).toSeq
      assert(ks.count(_ == 1L) == 2,
        s"key 1 must re-emit after its state was evicted; got $ks")
      assert(ks.count(_ == 2L) == 1, s"key 2 emitted once; got $ks")
      // And the run really used RocksDB, not the default HDFS-backed map.
      val custom = q.lastProgress.stateOperators.apply(0).customMetrics
      assert(custom.keySet().iterator().hasNext &&
        custom.keySet().toArray.exists(_.toString.startsWith("rocksdb")),
        s"expected rocksdb* state metrics, got ${custom.keySet()}")
    } finally q.stop()
  }

  test("RocksDB store: SimHash ingest dedup streams multi-batch with bounded state") {
    // The streaming near-dup path (SimHash fingerprint + dropDuplicates)
    // under the production state store: families deduplicate across
    // micro-batches, and state rows stay capped by the fingerprint
    // space, not the stream length.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import s2.implicits._
    implicit val sqlCtx = s2.sqlContext
    val mem = MemoryStream[(Long, String)]
    val fp = graft.functions.SimHashFingerprint(
      org.apache.spark.sql.functions.split(
        org.apache.spark.sql.functions.col("text"), " "), 16)
    val q = mem.toDF().toDF("doc_id", "text")
      .select($"doc_id", fp.as("fp"))
      .dropDuplicates("fp")
      .writeStream.format("memory").queryName("rocks_simhash")
      .outputMode("append")
      .start()
    try {
      mem.addData((1L, "the quick brown fox jumps over the lazy dog"),
        (2L, "completely different content about database engines"))
      q.processAllAvailable()
      // Batch 2: same two texts under new ids + one new family.
      mem.addData((3L, "the quick brown fox jumps over the lazy dog"),
        (4L, "completely different content about database engines"),
        (5L, "spark catalyst optimizer rewrites logical plans"))
      q.processAllAvailable()
      val ids = s2.table("rocks_simhash").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 5L),
        s"cross-batch fingerprint dups must be dropped; got $ids")
      val st = q.lastProgress.stateOperators.apply(0)
      assert(st.numRowsTotal == 3, s"state = one row per family, got ${st.numRowsTotal}")
      assert(st.customMetrics.keySet().toArray
        .exists(_.toString.startsWith("rocksdb")), "expected rocksdb metrics")
    } finally q.stop()
  }

  test("bounded stream scan over events parquet executes end-to-end") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def checkpointDirs() = Option(tmp.list).map(_.toSet).getOrElse(Set.empty)
      .filter(n => n.startsWith("graft_stream_ckpt") ||
        n.startsWith("temporary-"))
    val before = checkpointDirs()
    val df = graft.streaming.Streams.tumbleAvailableNow(
      spark, sfDir, queryName = "test_stream_tumble")
    // Spark owns the checkpoint: a temporary one, deleted on a clean stop.
    val leaked = checkpointDirs() -- before
    assert(leaked.isEmpty, s"checkpoint dirs left in $tmp: $leaked")
    assert(!new java.io.File(GraftSession.targetDir("checkpoints")).exists)
    assert(df.count() > 0)
    assert(df.columns.toSeq == Seq("w_start", "cnt", "sum_v"))
  }

  // ---- Late / out-of-order data under watermarks ----------------------
  // The semantics a 100 TB streaming job stakes state-size bounds on:
  // an event older than (max event time seen - delay) is DROPPED before
  // aggregation; an out-of-order event still inside the delay is MERGED.

  test("watermark drops a late event from an already-finalized tumbling window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Timestamp]
    val q = mem.toDF().withColumnRenamed("value", "a0")
      .withWatermark("a0", "10 seconds")
      .groupBy(expr("window(a0, '60 seconds')")).count()
      .selectExpr("window.start AS ws", "count")
      .writeStream.format("memory").queryName("late_tumble")
      .outputMode("append")
      .start()
    try {
      // Batch 1: two rows in the 07:00 window, one at 07:02:30 that
      // advances the watermark to 07:02:20 (> the 07:00 window's end).
      mem.addData(
        Timestamp.valueOf("2020-05-12 07:00:05"),
        Timestamp.valueOf("2020-05-12 07:00:10"),
        Timestamp.valueOf("2020-05-12 07:02:30"))
      q.processAllAvailable()
      // Batch 2: one LATE row for the closed 07:00 window (07:00:30 <
      // watermark — must be dropped, not merged) + one fresh row.
      mem.addData(
        Timestamp.valueOf("2020-05-12 07:00:30"),
        Timestamp.valueOf("2020-05-12 07:02:40"))
      q.processAllAvailable()
      val got = spark.table("late_tumble").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      // The finalized 07:00 window appends count=2 — NOT 3: the late row
      // never reached the aggregation.
      assert(got == Map(Timestamp.valueOf("2020-05-12 07:00:00") -> 2L), got)
      val dropped = q.recentProgress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 1, s"expected exactly the one late row dropped, got $dropped")
    } finally q.stop()
  }

  test("watermark drops a late event from a finalized session window") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Timestamp]
    val q = mem.toDF().withColumnRenamed("value", "a0")
      .withWatermark("a0", "10 seconds")
      .withColumn("k", lit(1))
      .groupBy($"k", session_window($"a0", "10 seconds")).count()
      .selectExpr("session_window.start AS ss", "count")
      .writeStream.format("memory").queryName("late_session")
      .outputMode("append")
      .start()
    try {
      // Session [07:00:00, 07:00:15) of two events; 07:05:00 pushes the
      // watermark to 07:04:50, finalizing it.
      mem.addData(
        Timestamp.valueOf("2020-05-12 07:00:00"),
        Timestamp.valueOf("2020-05-12 07:00:05"),
        Timestamp.valueOf("2020-05-12 07:05:00"))
      q.processAllAvailable()
      // 07:00:07 would EXTEND that session were it on time — late, dropped.
      mem.addData(Timestamp.valueOf("2020-05-12 07:00:07"))
      q.processAllAvailable()
      val got = spark.table("late_session").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(got == Map(Timestamp.valueOf("2020-05-12 07:00:00") -> 2L), got)
    } finally q.stop()
  }

  test("stream-stream left-outer: unmatched emits ONLY after the watermark " +
    "closes its window; the tail stays undecided") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    def ts(t: String) = Timestamp.valueOf(s"2020-05-12 $t")
    val clicks = MemoryStream[(Long, Timestamp)]
    val views = MemoryStream[(Long, Timestamp)]
    val c = clicks.toDF().toDF("cu", "click_ts")
      .withWatermark("click_ts", "10 seconds")
    val v = views.toDF().toDF("vu", "view_ts")
      .withWatermark("view_ts", "10 seconds")
    val j = c.join(v, expr(
      """cu = vu AND view_ts >= click_ts - INTERVAL 30 SECONDS
        |AND view_ts < click_ts""".stripMargin), "left_outer")
    val q = j.writeStream.format("memory").queryName("ssjoin_outer_sem")
      .outputMode("append")
      .start()
    try {
      // Batch 1: C1(u1 @07:01:00) has a matching view 10 s earlier;
      // C2(u2 @07:01:00) has none.
      clicks.addData((1L, ts("07:01:00")), (2L, ts("07:01:00")))
      views.addData((1L, ts("07:00:50")))
      q.processAllAvailable()
      val afterB1 = spark.table("ssjoin_outer_sem").collect()
      // The match emits immediately; C2 must NOT be null-extended yet —
      // the watermark (07:00:40) hasn't proven its view window closed.
      assert(afterB1.map(_.getLong(0)).toSeq == Seq(1L), afterB1.toSeq)
      // Batch 2: both sides jump to 07:10:00 → watermark 07:09:50, well
      // past C2's window; C3's own window is still open.
      clicks.addData((3L, ts("07:10:00")))
      views.addData((99L, ts("07:10:00")))
      q.processAllAvailable()
      val rows = spark.table("ssjoin_outer_sem").collect()
      val byUser = rows.groupBy(_.getLong(0))
      assert(byUser.keySet == Set(1L, 2L), rows.toSeq)
      val c2 = byUser(2L).head
      assert(c2.isNullAt(c2.fieldIndex("vu")) &&
        c2.isNullAt(c2.fieldIndex("view_ts")),
        s"C2 must be null-extended: $c2")
    } finally q.stop()
  }

  test("out-of-order event INSIDE the watermark delay is merged, not dropped") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[Timestamp]
    val q = mem.toDF().withColumnRenamed("value", "a0")
      .withWatermark("a0", "10 minutes")
      .groupBy(expr("window(a0, '60 seconds')")).count()
      .selectExpr("window.start AS ws", "count")
      .writeStream.format("memory").queryName("late_merged")
      .outputMode("append")
      .start()
    try {
      mem.addData(
        Timestamp.valueOf("2020-05-12 07:00:05"),
        Timestamp.valueOf("2020-05-12 07:02:30"))  // watermark: 06:52:30
      q.processAllAvailable()
      // 07:00:30 arrives out of order but AFTER the watermark — the 10
      // minute delay is the contract that it still counts.
      mem.addData(Timestamp.valueOf("2020-05-12 07:00:30"))
      q.processAllAvailable()
      // Advance the watermark past the 07:00 window to force emission.
      mem.addData(Timestamp.valueOf("2020-05-12 07:20:00"))
      q.processAllAvailable()
      mem.addData(Timestamp.valueOf("2020-05-12 07:40:00"))
      q.processAllAvailable()
      val got = spark.table("late_merged").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      // 07:00:05 (batch 1) + 07:00:30 (out-of-order, in-delay) = 2; a
      // wrongly-dropped late row would leave the window at 1.
      assert(got.get(Timestamp.valueOf("2020-05-12 07:00:00")).contains(2L),
        s"in-delay row must be merged: $got")
    } finally q.stop()
  }

  test("streaming as-of state walk: equal-ts inclusive, max-id wins, " +
    "state carries across batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.streaming.Streams.{AsofIn, AsofOut, AsofView}
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val mem = MemoryStream[AsofIn]
    def ev(id: Long, sec: Int, kind: String) =
      AsofIn(id, 1L, Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d"), kind)
    // Batch 1, file order scrambled: click at :05 BEFORE the :03 views
    // in arrival order — the in-batch sort must still attribute it.
    // Two views share ts :03 → the higher event_id (21) must win.
    val q = graft.streaming.Streams
      .asofWalk(mem.toDS()).toDF()
      .writeStream.format("memory").queryName("asof_walk")
      .outputMode("append")
      .start()
    try {
      mem.addData(ev(50, 5, "click"), ev(20, 3, "view"), ev(21, 3, "view"),
        ev(51, 3, "click"), ev(52, 1, "click"))
      q.processAllAvailable()
      // Batch 2: no new views — click at :08 uses batch 1's state.
      mem.addData(ev(53, 8, "click"))
      q.processAllAvailable()
      val got = spark.table("asof_walk").collect()
        .map(r => r.getAs[Long]("event_id") ->
          Option(r.getAs[java.lang.Long]("view_event_id")).map(_.toLong))
        .toMap
      assert(got == Map(50L -> Some(21L), 51L -> Some(21L), 52L -> None,
        53L -> Some(21L)), s"got $got")
    } finally q.stop()
  }

  test("streaming IVF assignment equals batch assignment across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import graft.operators.Similarity
    val emb = graft.catalog.Tables.load(spark, sfDir, "embeddings")
    val cents = Similarity.kmeansCentroids(emb)
    val batch = Similarity.assignEmbeddings(emb, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // Stream the same vectors in TWO micro-batches: assignment is
    // stateless, so per-batch results must match the batch run exactly.
    val rows = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val mem = MemoryStream[(Long, Seq[Float])]
    val stream = Similarity.assignEmbeddings(
      mem.toDF().toDF("vec_id", "embedding")
        .selectExpr("vec_id", "CAST(embedding AS array<float>) AS embedding"),
      cents)
    val q = stream.select("vec_id", "cid")
      .writeStream.format("memory").queryName("ann_assign")
      .outputMode("append")
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toSeq: _*)
      q.processAllAvailable()
      mem.addData(b2.toSeq: _*)
      q.processAllAvailable()
      val got = spark.table("ann_assign").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == batch, "stream assignment diverged from batch")
    } finally q.stop()
  }

  // ---- checkpoint recovery: kill a stateful query mid-stream, restart
  // from its checkpoint, and prove the final output equals the
  // uninterrupted run's. MemoryStream is not replayable across restarts,
  // so these drive the FILE source (what production runs): the
  // checkpoint's offset log records which files were read, and the state
  // store carries the aggregate/seen-keys state forward.

  /** Land `df` in `srcDir` as a single new parquet file (the file source
    * picks up files, not directories).
    */
  private def landFile(df: org.apache.spark.sql.DataFrame,
                       srcDir: java.nio.file.Path, name: String): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_half")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles
        .find(f => f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, srcDir.resolve(name))
    } finally GraftSession.removeDir(tmp.toString)
  }

  test("checkpoint recovery: tumbling agg state survives a stop/restart") {
    val s = spark
    import s.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_rec")
    val freshCkpt = java.nio.file.Files.createTempDirectory("graft_ckpt_fresh")
    try {
      def ev(sec: Int, v: Double) = (java.sql.Timestamp.from(
        Timestamp.valueOf("2020-05-12 08:00:00").toInstant.plusSeconds(sec)), v)
      // Window = 10s. First half covers windows 0,10; second half ADDS to
      // window 10 and opens window 20 — so the recovered run can only be
      // right if window 10's partial count survived the restart.
      val half1 = Seq(ev(1, 1.0), ev(2, 1.0), ev(11, 1.0))
      val half2 = Seq(ev(12, 1.0), ev(13, 1.0), ev(21, 1.0))
      val schema = half1.toDF("ts", "v").schema
      def runOnce(sinkName: String): Map[java.sql.Timestamp, Long] = {
        val q = s.readStream.schema(schema).parquet(srcDir.toString)
          .withWatermark("ts", "5 seconds")
          .groupBy(window(col("ts"), "10 seconds")).count()
          .selectExpr("window.start AS ws", "count")
          .writeStream.format("memory").queryName(sinkName)
          .outputMode("complete")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.table(sinkName).collect().map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      }
      landFile(half1.toDF("ts", "v"), srcDir, "half1.parquet")
      val partial = runOnce("ckpt_rec_run1") // query STOPS here (AvailableNow)
      assert(partial.values.sum == 3, s"first half processed: $partial")
      landFile(half2.toDF("ts", "v"), srcDir, "half2.parquet")
      val recovered = runOnce("ckpt_rec_run2") // restart from same checkpoint
      // Uninterrupted baseline: same input, fresh checkpoint + sink.
      val q = s.readStream.schema(schema).parquet(srcDir.toString)
        .withWatermark("ts", "5 seconds")
        .groupBy(window(col("ts"), "10 seconds")).count()
        .selectExpr("window.start AS ws", "count")
        .writeStream.format("memory").queryName("ckpt_rec_base")
        .outputMode("complete")
        .option("checkpointLocation", freshCkpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val base = s.table("ckpt_rec_base").collect()
        .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
      assert(recovered == base,
        s"recovered run diverged from uninterrupted: $recovered vs $base")
      // The split window really did span the restart (2+1 either side).
      assert(recovered(Timestamp.valueOf("2020-05-12 08:00:10")) == 3L)
    } finally
      Seq(srcDir, ckpt, freshCkpt).foreach(d => GraftSession.removeDir(d.toString))
  }

  test("checkpoint recovery: dropDuplicates seen-keys state survives restart") {
    val s = spark
    import s.implicits._
    val srcDir = java.nio.file.Files.createTempDirectory("graft_ckpt_src2")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt_rec2")
    // The memory sink refuses checkpoint recovery in append mode; the
    // parquet FILE sink is the fault-tolerant production sink, so the
    // restart goes through it and reads the directory back.
    val outDir = java.nio.file.Files.createTempDirectory("graft_ckpt_out2")
    try {
      val schema = Seq((1L, "a")).toDF("k", "payload").schema
      def runOnce(): Seq[Long] = {
        val q = s.readStream.schema(schema).parquet(srcDir.toString)
          .dropDuplicates("k")
          .writeStream.format("parquet")
          .option("path", outDir.toString)
          .outputMode("append")
          .option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        s.read.parquet(outDir.toString).collect().map(_.getLong(0)).toSeq.sorted
      }
      landFile(Seq((1L, "a"), (2L, "b")).toDF("k", "payload"),
        srcDir, "half1.parquet")
      assert(runOnce() == Seq(1L, 2L))
      // Second half re-sends key 1: it may only be dropped if the seen-keys
      // state store was recovered from the checkpoint.
      landFile(Seq((1L, "a2"), (3L, "c")).toDF("k", "payload"),
        srcDir, "half2.parquet")
      val total = runOnce()
      assert(total == Seq(1L, 2L, 3L),
        s"restart must drop the key seen before the restart; sink holds $total")
    } finally
      Seq(srcDir, ckpt, outDir).foreach(d => GraftSession.removeDir(d.toString))
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface.
  *
  * The reference's stream scan is a planning stub
  * (`/root/reference/qpmodel/Stream.cs:183-194` — `PhysicScanStream.Exec`
  * does nothing); here the unbounded path actually executes:
  * `readStream` file source → event-time window aggregate → sink. The
  * same `window()` expressions serve the bounded corpus queries
  * (graft.queries.WindowQueries), so batch and streaming semantics are
  * one code path — the Spark model.
  *
  * At scale: the file source is replaced by Kafka with the same plan;
  * watermarks bound state, and the windowed aggregate state is
  * hash-partitioned by (key, window) across executors.
  */
object Streams {

  /** Unbounded scan over the events table. Layout- and type-tolerant
    * like the batch path: `ts` is normalized through
    * `Tables.normalizeTs` (nanos-long / naive-micros NTZ / LTZ — the
    * three testdata generations), which also keeps the column
    * watermark-eligible (EventTimeWatermark requires LTZ). Spark-written
    * corpora (ScaleGen) are part-file DIRECTORIES and pass through.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    graft.catalog.Tables.normalizeTs(tableStream(spark, dir, "events"))

  /** Unbounded scan over one table of an sf dir, tolerant of both
    * layouts: the driver's testdata is one FILE per table (the file
    * stream source wants a directory, so stream the sf dir glob-filtered
    * to that file name), while Spark-written corpora (ScaleGen) are
    * part-file DIRECTORIES (streamed directly — a glob filter on the
    * table name would silently exclude every part file).
    */
  private def tableStream(spark: SparkSession, dir: String,
                          name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val hPath = new org.apache.hadoop.fs.Path(path)
    val conf = spark.sessionState.newHadoopConf()
    // The catalog's footer read: the schema without an inference job.
    val schema = FooterSchema.read(spark, hPath, conf)
    // Resolve through the Hadoop filesystem, not java.io.File — on a
    // non-local URI (hdfs://, s3a://) File.isDirectory is always false,
    // which would silently take the glob branch and match zero files.
    val isDir = hPath.getFileSystem(conf).getFileStatus(hPath).isDirectory
    if (isDir)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$name.parquet")
        .parquet(dir)
  }

  /** Tumbling-window aggregate over the stream, with a watermark bounding
    * state. Runs the bounded corpus to completion (Trigger.AvailableNow)
    * into a memory sink and returns the result — a genuine streaming
    * execution verified against the same DuckDB oracle as the batch
    * tumble query.
    */
  def tumbleAvailableNow(spark: SparkSession, dir: String,
                         queryName: String = "graft_stream_tumble"): DataFrame =
    runToMemory(tumbleAgg(spark, dir), queryName)

  private def tumbleAgg(spark: SparkSession, dir: String): DataFrame =
    eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(count("*").as("cnt"),
        expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("sum_v"))
      .select(col("window.start").as("w_start"), col("cnt"), col("sum_v"))

  /** The same tumbling aggregate streamed into a real on-disk PARQUET
    * sink via foreachBatch, then read back — the production sink path
    * (the memory sink above collects to the driver: right for
    * verification, wrong as the only demonstrated sink). Complete mode +
    * Trigger.AvailableNow: the final micro-batch carries the full
    * aggregate, and each batch overwrites the target atomically by
    * directory convention. At scale foreachBatch is the idiomatic exit
    * to any batch writer (parquet/JDBC/Delta) with exactly-once per
    * batch id; the write runs at the sink dataframe's parallelism, not
    * through the driver. The target is one fixed directory under
    * `target/`, replaced by every run's overwrite.
    */
  def tumbleToParquet(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.GraftSession.targetDir("stream_tumble_parquet")
    tumbleAgg(spark, dir).writeStream
      .outputMode("complete")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.write.mode("overwrite").parquet(out)
      }
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    spark.read.parquet(out)
  }

  /** The bounded-stream runner every query here shares: run `df` to
    * completion (Trigger.AvailableNow) into a memory sink named
    * `queryName`, in output mode `mode`, and return the sink table. No
    * checkpoint location is passed (nor by [[tumbleToParquet]]): Spark
    * gives the query its own temporary checkpoint and deletes it when
    * the query stops cleanly.
    */
  private[graft] def runToMemory(df: DataFrame, queryName: String,
                                 mode: String = "complete"): DataFrame = {
    df.writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
      .awaitTermination()
    df.sparkSession.table(queryName)
  }

  /** Stream–static enrichment: the unbounded event scan joined to the
    * STATIC customer dimension (user → nation), then aggregated per
    * nation — the canonical "enrich a stream with a dim table" shape.
    * The static side is planned per micro-batch (and broadcast, being a
    * dim), so dimension updates between batches are picked up without
    * restarting the query; no watermark is needed for a stream-static
    * INNER join since it holds no cross-stream state.
    */
  def enrichByNationAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_enrich"): DataFrame = {
    val cust = graft.catalog.Tables.load(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
    runToMemory(
      eventsStream(spark, dir)
        .join(cust, col("user_id") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(count("*").as("cnt"),
          expr("CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)")
            .as("sum_v")),
      queryName)
  }

  /** Per-user session windows over the unbounded scan (30-minute
    * inactivity gap), run to completion — the streaming twin of the
    * bounded `window_session` corpus query, sharing its DuckDB oracle.
    * Streaming session windows require a grouping key alongside the
    * window; state is one open session per (user, window), merged as
    * events arrive and bounded by the watermark.
    */
  def sessionAvailableNow(spark: SparkSession, dir: String,
                          queryName: String = "graft_stream_session"): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .filter(col("user_id") <= 20)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count("*").as("cnt"))
        .select(col("user_id"), col("session_window.start").as("s_start"),
          col("cnt")),
      queryName)

  /** Hopping windows over the unbounded scan (12h window, 6h slide) —
    * streaming twin of the bounded window_hop query, same oracle.
    */
  def hopAvailableNow(spark: SparkSession, dir: String,
                      queryName: String = "graft_stream_hop"): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "12 hours", "6 hours"))
        .agg(count("*").as("cnt"))
        .select(col("window.start").as("w_start"), col("cnt")),
      queryName)

  /** Stream-stream inner join with an event-time range condition: each
    * click joined to the same user's views in the preceding 30 minutes.
    * Both sides are watermarked so join state is bounded (Spark drops
    * view state older than the watermark + range). Run to completion,
    * then aggregated so the oracle output is compact.
    */
  def clickViewJoinAvailableNow(spark: SparkSession, dir: String,
                                queryName: String = "graft_stream_ssjoin"): DataFrame =
    runToMemory(clickViewJoin(spark, dir, "inner"), queryName, "append")
      .groupBy("user_id")
      .agg(count("*").as("n_pairs"))

  /** The click/view stream-stream join under `joinType`: each click
    * against the same user's views in the preceding 30 minutes, both
    * sides watermarked (1 hour) so join state is bounded.
    */
  private def clickViewJoin(spark: SparkSession, dir: String,
                            joinType: String): DataFrame = {
    val clicks = eventsStream(spark, dir)
      .filter("event_type = 'click' AND user_id < 20")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val views = eventsStream(spark, dir)
      .filter("event_type = 'view' AND user_id < 20")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    clicks.join(views, expr(
      """user_id = v_user AND
        |view_ts >= click_ts - INTERVAL 30 MINUTES AND
        |view_ts < click_ts""".stripMargin), joinType)
  }

  /** Streaming drift monitor: per-tumbling-window PSI of the event-value
    * distribution against a static reference (the 'view' events'
    * distribution) — the alert a production ingest actually pages on
    * ("this 6 h batch's feature histogram no longer matches what we
    * trained on"). The STREAMING side holds only (window × bin) counts
    * — state bounded by windows-in-watermark × bin cardinality, never
    * rows; the PSI arithmetic runs batch-side on that tiny frame after
    * completion, per window, over the union of the window's and the
    * reference's bins with Laplace add-one (mirrors
    * [[graft.operators.Drift.psiDrift]]).
    */
  def psiDriftWindowedAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_psi"): DataFrame = {
    val binExpr = "CAST(floor(value / 10) AS BIGINT)"
    runToMemory(
      eventsStream(spark, dir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "6 hours"), expr(binExpr).as("b"))
        .agg(count(lit(1)).as("wc"))
        .select(col("window.start").as("w"), col("b"), col("wc")),
      queryName)
    graft.catalog.Tables.load(spark, dir, "events")
      .filter("event_type = 'view'")
      .groupBy(expr(binExpr).as("b")).agg(count(lit(1)).as("rc"))
      .createOrReplaceTempView(s"${queryName}_ref")
    // One SQL statement for the finishing math: the sink view is
    // referenced three times (window list, universe union, count join),
    // and only the analyzer's in-query view dedup handles that — three
    // separately built DataFrames over the same MemorySink share
    // attribute ids and fail resolution as an ambiguous self-join.
    spark.sql(
      s"""WITH win AS (SELECT w, b, wc FROM $queryName),
         |ref AS (SELECT b, rc FROM ${queryName}_ref),
         |univ AS (
         |  SELECT w, b FROM (SELECT DISTINCT w FROM win)
         |    CROSS JOIN (SELECT b FROM ref)
         |  UNION SELECT w, b FROM win),
         |j AS (
         |  SELECT u.w, u.b, coalesce(win.wc, 0) AS wc,
         |    coalesce(ref.rc, 0) AS rc
         |  FROM univ u
         |  LEFT JOIN win ON u.w = win.w AND u.b = win.b
         |  LEFT JOIN ref ON u.b = ref.b),
         |tot AS (SELECT w, SUM(wc) AS tw, COUNT(*) AS nb FROM j GROUP BY w),
         |tr AS (SELECT SUM(rc) AS tr FROM ref)
         |SELECT j.w AS w_start,
         |  SUM(CAST(round((((wc + 1.0D) / (tw + nb) - (rc + 1.0D) / (tr.tr + nb))
         |    * ln(((wc + 1.0D) / (tw + nb)) / ((rc + 1.0D) / (tr.tr + nb))))
         |    * 1e9) AS BIGINT)) / 1e9 AS psi
         |FROM j JOIN tot ON j.w = tot.w CROSS JOIN tr
         |GROUP BY j.w""".stripMargin)
  }

  /** Streaming exact-dup ingest gate against a corpus-sized fingerprint
    * set: one BATCH aggregate folds the corpus's md5 fingerprints into a
    * ~1.2 MB Bloom bitset (the artifact a 100 TB deployment refreshes
    * offline), the bitset rides into the unbounded query as a BINARY
    * LITERAL — so each micro-batch probes it map-side in codegen, and
    * the common case (a genuinely new document) is decided with NO join
    * input at all. Only Bloom-probable rows (true dupes + ~fpp of the
    * new) enter the stream-static anti-join that removes false
    * positives, so the result is EXACT while the per-batch join carries
    * batch-size × fpp rows, never the corpus. Stateless end to end: no
    * watermark, no streaming state — the dedup knowledge lives in the
    * bitset + the static side.
    *
    * (Contrast [[graft.operators.Bloom.ingestDedupBloom]], the batch
    * twin, where the filter arrives as a scalar subquery; a stream
    * cannot re-aggregate the corpus per batch, hence the literal.)
    */
  def ingestBloomAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_bloom_gate"): DataFrame = {
    import org.apache.spark.sql.functions.{call_function, typedLit}
    val ex = graft.catalog.Tables.load(spark, dir, "documents")
      .filter("doc_id % 2 = 0")
      .select(md5(col("text")).as("h"))
    val cap = 1L << 20
    val bloomBytes = ex.select(expr(
      s"bloom_agg(xxhash64(h), ${cap}L, ${graft.operators.Bloom.numBits(cap, 0.01)}L)"))
      .head().getAs[Array[Byte]](0)
    val incoming = tableStream(spark, dir, "documents")
      .filter("doc_id % 3 = 0")
      .select(col("doc_id"), md5(col("text")).as("h"))
    val flagged = incoming.withColumn("probable",
      call_function("bloom_might_contain",
        typedLit(bloomBytes), xxhash64(col("h"))))
    val kept = flagged.filter(!col("probable")).drop("probable")
      .unionByName(flagged.filter(col("probable")).drop("probable")
        .join(ex, Seq("h"), "left_anti"))
    runToMemory(kept, queryName, "append")
      .agg(count(lit(1)).as("n_kept"),
        sum("doc_id").cast("long").as("sum_ids"))
  }

  /** The timestamp the outer-join tail cutoffs are measured from: the
    * SLOWER of the two filtered streams' max event times — the final
    * global watermark sits exactly one delay below it, so "2 h below
    * this" provably clears every retained row's state-expiry point
    * (delay 1 h + range 30 min + 30 min margin).
    */
  private def joinWatermarkBase(spark: SparkSession,
                                dir: String): java.sql.Timestamp =
    graft.catalog.Tables.load(spark, dir, "events")
      .filter("user_id < 20")
      .agg(least(
        max(when(col("event_type") === "click", col("ts"))),
        max(when(col("event_type") === "view", col("ts")))))
      .head().getTimestamp(0)

  /** Stream-stream LEFT OUTER join: every click either pairs with the
    * same user's views in the preceding 30 minutes or is emitted
    * null-extended once the watermark proves no matching view can still
    * arrive (Spark holds the click in join state until the global
    * watermark passes its match window, then emits the unmatched row —
    * the outer-join-specific state machine this query exists to pin).
    *
    * Unmatched rows near the end of a bounded run are NOT resolvable:
    * the global watermark is min over BOTH watermarked (filtered)
    * streams of (max event time − delay), so rows inside that tail stay
    * unmatched-undecided exactly as an unbounded run would leave them.
    * The comparison therefore restricts BOTH engines to rows at least
    * 2 h (watermark delay + range + margin) below the SLOWER side's max
    * event time — applied AFTER the join, so the tail still drives the
    * watermark forward and every retained row is decided.
    */
  def clickViewLeftOuterAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_ssjoin_outer"): DataFrame = {
    val maxTs = joinWatermarkBase(spark, dir)
    runToMemory(clickViewJoin(spark, dir, "left_outer"), queryName, "append")
      .filter(col("click_ts") <= lit(maxTs) - expr("INTERVAL 2 HOURS"))
      .groupBy("user_id")
      .agg(count(col("view_ts")).as("n_pairs"),
        count(when(col("view_ts").isNull, 1)).as("n_unmatched"))
  }

  /** Stream-stream FULL OUTER join over the same click/view ranges:
    * left-only clicks AND right-only views both emit null-extended when
    * the watermark proves their match window closed (a view's window is
    * the FOLLOWING 30 minutes, so its state expires at view_ts + range —
    * the mirror-image eviction the left-outer query can't exercise).
    * Same 2 h below-the-slower-side cutoff on both sides' event time,
    * applied post-join; the key is coalesced across sides.
    */
  def clickViewFullOuterAvailableNow(spark: SparkSession, dir: String,
      queryName: String = "graft_stream_ssjoin_full"): DataFrame = {
    val maxTs = joinWatermarkBase(spark, dir)
    val cutoff = lit(maxTs) - expr("INTERVAL 2 HOURS")
    runToMemory(clickViewJoin(spark, dir, "full_outer"), queryName, "append")
      .filter(coalesce(col("click_ts"), col("view_ts")) <= cutoff)
      .groupBy(coalesce(col("user_id"), col("v_user")).as("uid"))
      .agg(
        count(when(col("click_ts").isNotNull && col("view_ts").isNotNull, 1))
          .as("n_matched"),
        count(when(col("view_ts").isNull, 1)).as("n_click_only"),
        count(when(col("click_ts").isNull, 1)).as("n_view_only"))
  }

  /** Streaming deduplication: dropDuplicates on (user_id, event_type)
    * across the whole stream — the streaming form of exact dedup, state
    * one key per distinct pair — then an aggregate that the DuckDB
    * oracle can recompute (COUNT(DISTINCT user_id) per type).
    */
  def dedupAvailableNow(spark: SparkSession, dir: String,
                        queryName: String = "graft_stream_dedup"): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .select("user_id", "event_type")
        .dropDuplicates("user_id", "event_type"),
      queryName, "append")
      .groupBy("event_type")
      .agg(count("*").as("n_users"))

  /** Watermark-bounded streaming dedup: like [[dedupAvailableNow]] but
    * via dropDuplicatesWithinWatermark — state for a key is EVICTED once
    * the watermark passes it (the production choice for unbounded key
    * domains, where plain dropDuplicates' state grows forever). On the
    * bounded corpus the event-time span is inside the (large) watermark,
    * so results equal global dedup and share its oracle.
    */
  def dedupWithinWatermarkAvailableNow(
      spark: SparkSession, dir: String,
      queryName: String = "graft_stream_dedup_wm"): DataFrame =
    runToMemory(
      eventsStream(spark, dir)
        .withWatermark("ts", "365 days")
        .select(col("user_id"), col("event_type"), col("ts"))
        .dropDuplicatesWithinWatermark("user_id", "event_type"),
      queryName, "append")
      .groupBy("event_type")
      .agg(count("*").as("n_users"))

  /** Streaming NEAR-dup dedup: the LLM-pipeline ingest shape — documents
    * arrive as a stream, each gets a SimHash fingerprint (the codegen'd
    * native expression, same as batch [[graft.operators.Dedup]]), and
    * dropDuplicates on the fingerprint keeps the first representative of
    * every near-dup family seen so far. State is one key per DISTINCT
    * fingerprint (bounded by 2^bits regardless of stream length —
    * fingerprint dedup is the rare case where global streaming state has
    * a hard cap); at 100 TB ingest the state store holds fingerprints,
    * never documents. The returned summary is fingerprint-SET level
    * (count / min / max / order-insensitive hash-sum), so it is
    * deterministic even though WHICH doc represents a family depends on
    * arrival order.
    */
  def simhashDedupAvailableNow(
      spark: SparkSession, dir: String, bits: Int = 16,
      queryName: String = "graft_stream_neardup"): DataFrame =
    runToMemory(
      tableStream(spark, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .select(col("doc_id"),
          graft.functions.SimHashFingerprint(col("ws"), bits).as("fp"))
        .dropDuplicates("fp"),
      queryName, "append")
      .agg(
        count("*").as("n_families"),
        min("fp").as("mn_fp"),
        max("fp").as("mx_fp"),
        expr("""CAST(SUM(CAST(conv(substring(md5(fp), 1, 12), 16, 10)
               |  AS BIGINT)) AS BIGINT)""".stripMargin).as("fp_checksum"))

  /** Streaming ingest-prep: the gate a continuously-crawling pipeline
    * runs ON ARRIVAL — each incoming document (odd doc_ids here, the
    * even half standing in as the existing corpus) passes a stateless
    * quality gate (word count + type/token ratio, narrow codegen'd
    * expressions) and a near-dup check against the EXISTING corpus's
    * SimHash fingerprint set via a stream-static broadcast left join, and
    * is verdicted admit / reject_quality / reject_dup. Fingerprints use
    * the same codegen'd native expression as batch dedup, so stream and
    * batch verdicts are provably identical (the oracle replays both gates
    * in SQL).
    *
    * Scale shape: everything per-batch is stateless and narrow — no
    * streaming state at all (unlike [[simhashDedupAvailableNow]]'s
    * within-stream dedup, membership against the existing corpus needs
    * no state because the corpus is a static side); the fingerprint set
    * is 2^bits-bounded so the broadcast never outgrows the fingerprint
    * space. Returns the per-verdict summary (count + exact doc_id sum),
    * order-insensitive and arrival-order-independent.
    */
  def ingestPrepAvailableNow(
      spark: SparkSession, dir: String, bits: Int = 16,
      minWords: Int = 5, minTtr: Double = 0.3,
      queryName: String = "graft_stream_ingest"): DataFrame = {
    val existing = graft.catalog.Tables.load(spark, dir, "documents")
      .filter("doc_id % 2 = 0")
      .select(split(col("text"), " ").as("ws"))
      .select(graft.functions.SimHashFingerprint(col("ws"), bits).as("fp"))
      .distinct()
      .withColumn("known", lit(1))
    runToMemory(
      tableStream(spark, dir, "documents")
        .filter("doc_id % 2 = 1")
        .select(col("doc_id"), split(col("text"), " ").as("ws"))
        .withColumn("fp", graft.functions.SimHashFingerprint(col("ws"), bits))
        .withColumn("quality_ok", expr(
          s"size(ws) >= $minWords AND size(array_distinct(ws)) / size(ws) >= $minTtr"))
        .join(broadcast(existing), Seq("fp"), "left")
        .withColumn("verdict", expr(
          """CASE WHEN NOT quality_ok THEN 'reject_quality'
            |     WHEN known = 1 THEN 'reject_dup'
            |     ELSE 'admit' END""".stripMargin))
        .select("doc_id", "verdict"),
      queryName, "append")
      .groupBy("verdict")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("sum_doc_id"))
  }

  final case class AsofIn(event_id: Long, user_id: Long,
                          ts: java.sql.Timestamp, event_type: String)
  final case class AsofView(ts: java.sql.Timestamp, id: Long)
  final case class AsofOut(event_id: Long, user_id: Long,
                           ts: java.sql.Timestamp,
                           view_ts: Option[java.sql.Timestamp],
                           view_event_id: Option[Long])

  /** STREAMING as-of join: clicks arrive on the stream and each is
    * attributed to the latest view at-or-before it — the continuous
    * form of [[graft.operators.Temporal.asofJoin]], and the shape a
    * live attribution pipeline runs. State is ONE record per user (the
    * latest view seen), hash-partitioned by key and carried across
    * micro-batches — it scales with keys, never with stream length.
    *
    * Within a micro-batch the group is walked in (ts, view-before-click,
    * event_id) order, so equal-time views match inclusively and the
    * highest event_id wins among same-timestamp views — exactly the
    * batch operator's uniqueness contract. Across batches the walk is
    * exact for in-order arrival per key (the file/Kafka-partition-per-
    * key layout); late views would need watermark-bounded buffering,
    * which the batch operator covers for replay. Under
    * Trigger.AvailableNow on one input file everything lands in a
    * single batch, so the result equals the batch as-of — which is what
    * the oracle asserts.
    */
  def asofAvailableNow(spark: SparkSession, dir: String,
                       queryName: String = "graft_stream_asof"): DataFrame = {
    import spark.implicits._
    val ev = eventsStream(spark, dir)
      .where(col("event_type").isin("click", "view"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("event_type"))
      .as[AsofIn]
    runToMemory(asofWalk(ev).toDF(), queryName, "append")
      .select("event_id", "user_id", "ts", "view_ts", "view_event_id")
  }

  /** The per-key state walk of [[asofAvailableNow]], reusable over any
    * (possibly unbounded) AsofIn source: one latest-view record per key,
    * batch group sorted (ts, view-before-click, event_id) so equal-time
    * views match inclusively and same-ts view ties go to the highest id.
    */
  def asofWalk(ev: Dataset[AsofIn]): Dataset[AsofOut] = {
    val spark = ev.sparkSession
    import spark.implicits._
    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofView, AsofOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (uid, it, state: GroupState[AsofView]) =>
          val walk = it.toVector.sortBy(e =>
            (e.ts.getTime, e.ts.getNanos,
              if (e.event_type == "view") 0 else 1, e.event_id))
          var st = state.getOption
          val out = Vector.newBuilder[AsofOut]
          walk.foreach { e =>
            if (e.event_type == "view") {
              if (st.forall(s => s.ts.compareTo(e.ts) < 0 ||
                  (s.ts.compareTo(e.ts) == 0 && s.id < e.event_id)))
                st = Some(AsofView(e.ts, e.event_id))
            } else {
              out += AsofOut(e.event_id, uid, e.ts,
                st.map(_.ts), st.map(_.id))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Custom-state records: per-user running aggregates maintained across
    * micro-batches.
    */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total: Double)

  /** Arbitrary per-key streaming state via mapGroupsWithState — the
    * escape hatch beyond declarative windows (the driver brief's custom
    * state path). State is one small record per key, hash-partitioned by
    * key across executors and carried from micro-batch to micro-batch; at
    * 100 TB the state store (RocksDB in production) holds it off-heap
    * per-executor, so the operator scales with keys, not events.
    */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](
        GroupStateTimeout.NoTimeout()) {
        case (uid, evts, state: GroupState[UserTotals]) =>
          val (n0, t0) = state.getOption
            .map(s => (s.n_events, s.total)).getOrElse((0L, 0.0))
          var n = n0
          var t = t0
          evts.foreach { e => n += 1; t += e.value }
          val updated = UserTotals(uid, n, t)
          state.update(updated)
          updated
      }
  }

  /** STREAMING ANN-index ingest: arriving embeddings are assigned to
    * their IVF inverted list by a centroid model trained on the static
    * corpus ([[graft.operators.Similarity.kmeansCentroids]]) — the
    * vector-database ingestion path. The assignment is a STATELESS
    * narrow projection (stream–static cross join against the broadcast
    * one-row model), so it needs no state store, no watermark, and no
    * ordering assumptions: every micro-batch assigns independently and
    * the result is batch-identical by construction — which the DuckDB
    * oracle (`stream_ann_assign`) verifies end to end. At scale the
    * stream never shuffles; the model is K×dim numbers re-broadcast per
    * batch.
    */
  def ivfAssignAvailableNow(spark: SparkSession, dir: String,
                            queryName: String = "graft_stream_ann"): DataFrame = {
    val corpus = graft.catalog.Tables.load(spark, dir, "embeddings")
    val cents = graft.operators.Similarity.kmeansCentroids(corpus)
    val incoming = tableStream(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val assigned = graft.operators.Similarity
      .assignEmbeddings(incoming, cents)
      .select(col("vec_id"), col("cid"), col("cos_centroid"))
    runToMemory(assigned, queryName, "append")
  }
}

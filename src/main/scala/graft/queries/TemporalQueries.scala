package graft.queries

import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.catalog.Tables
import graft.operators.{Skew, Temporal}
import Sql._

/** Temporal joins, explicit skew handling, and the second wave of
  * streaming executions — operators beyond the reference's surface that
  * a production pipeline needs, each DuckDB-oracle-verified.
  */
object TemporalQueries {

  /** As-of join: every click attributed to the user's most recent view
    * at-or-before it (trade/quote alignment shape). The DuckDB oracle is
    * the native ASOF LEFT JOIN — verifying our union+window rewrite
    * against a first-class implementation of the semantics.
    */
  val joinAsof: QueryDef = QueryDef("join_asof",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val clicks = ev.filter("event_type = 'click'")
        .select("event_id", "user_id", "ts")
      // Unique per (user, time): the as-of "latest" must be well-defined.
      val views = ev.filter("event_type = 'view'")
        .groupBy(col("user_id"), col("ts").as("view_ts"))
        .agg(max("event_id").as("view_event_id"))
      Temporal.asofJoin(clicks, views, "user_id", "ts", "view_ts")
    },
    bench = true,
    oracle =
    Some("""WITH clicks AS (
           |  SELECT event_id, user_id, ts FROM events
           |  WHERE event_type = 'click'),
           |views AS (
           |  SELECT user_id, ts AS view_ts, MAX(event_id) AS view_event_id
           |  FROM events WHERE event_type = 'view'
           |  GROUP BY user_id, ts)
           |SELECT c.event_id, c.user_id, c.ts, v.view_ts, v.view_event_id
           |FROM clicks c
           |ASOF LEFT JOIN views v
           |  ON c.user_id = v.user_id AND c.ts >= v.view_ts""".stripMargin))

  /** Binned interval join (no equi key): events falling inside the
    * 30-minute window before each purchase. The oracle is the plain
    * range-predicate join DuckDB can afford at sf0.01; the Spark side is
    * the binned plan that survives 100 TB.
    */
  val joinRangeBinned: QueryDef = QueryDef("join_range_binned",
    (s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val windows = ev.filter("event_type = 'purchase' AND user_id < 3")
        .select(col("event_id").as("purchase_id"),
          expr("ts - INTERVAL '30' MINUTE").as("lo"), col("ts").as("hi"))
      Temporal.binnedIntervalJoin(ev.select("event_id", "user_id", "ts"),
          "ts", windows, "lo", "hi", binSeconds = 600)
        .groupBy("purchase_id")
        .agg(count("*").as("n_events"),
          countDistinct("user_id").as("n_users"))
    },
    Some("""WITH w AS (
           |  SELECT event_id AS purchase_id,
           |    ts - INTERVAL '30' MINUTE AS lo, ts AS hi
           |  FROM events WHERE event_type = 'purchase' AND user_id < 3)
           |SELECT purchase_id, COUNT(*) AS n_events,
           |  COUNT(DISTINCT user_id) AS n_users
           |FROM events e JOIN w ON e.ts >= w.lo AND e.ts < w.hi
           |GROUP BY purchase_id""".stripMargin))

  /** Salted skew join, result-verified: the salted (key, salt) rewrite
    * must produce exactly the plain join's aggregate (the oracle runs the
    * unsalted join).
    */
  val skewSalted: QueryDef = QueryDef("skew_salted_join",
    (s, dir) => {
      Tables.registerAll(s, dir)
      Skew.saltedJoin(s.table("lineitem"), s.table("orders"),
          "l_orderkey", "o_orderkey", factor = 8)
        .groupBy("o_orderpriority")
        .agg(count("*").as("n"),
          expr(dsum("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
            |  ${dsum("l_extendedprice")} AS sum_price
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |GROUP BY o_orderpriority""".stripMargin))

  /** Adaptive variant of [[skewSalted]]: hot keys are detected by the
    * certified single-pass summary (heavy_hitters) and ONLY those are
    * salted, so the replicated side pays factor× for ≤ k keys instead
    * of for every row. The result is exact for any detected set (the
    * summary steers cost, not semantics) — same oracle as the full-salt
    * and AQE twins. On this uniform fixture the detected set is empty
    * (nothing above n/(k+1)) and the join degenerates to the plain one;
    * SkewSpec exercises the hot path on a planted-Zipf frame.
    */
  val skewAdaptive: QueryDef = QueryDef("skew_adaptive_salt",
    (s, dir) => {
      Tables.registerAll(s, dir)
      Skew.adaptiveSaltedJoin(s.table("lineitem"), s.table("orders"),
          "l_orderkey", "o_orderkey", factor = 8)
        .groupBy("o_orderpriority")
        .agg(count("*").as("n"),
          expr(dsum("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
            |  ${dsum("l_extendedprice")} AS sum_price
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |GROUP BY o_orderpriority""".stripMargin))

  /** The UNSALTED twin of [[skewSalted]]: the same join left to AQE's
    * runtime skew handling instead of explicit salting. Same oracle —
    * both mitigation paths must produce the identical aggregate. On a
    * Zipf-skewed corpus `graft.Run`'s skew recipe demonstrates the
    * `SortMergeJoin(skew=true)` split firing on exactly this shape
    * (sf10zipf, hot l_orderkey at 10% of the fact table); at uniform
    * test scale it is an ordinary join.
    */
  val skewAqe: QueryDef = QueryDef("skew_aqe_join",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.table("lineitem").join(s.table("orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count("*").as("n"),
          expr(dsum("l_extendedprice")).as("sum_price"))
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n,
            |  ${dsum("l_extendedprice")} AS sum_price
            |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            |GROUP BY o_orderpriority""".stripMargin))

  /** Streaming session windows run to completion — same oracle as the
    * bounded window_session query (gaps-and-islands SQL).
    */
  val streamSession: QueryDef = QueryDef("stream_session",
    (s, dir) => graft.streaming.Streams.sessionAvailableNow(s, dir),
    Some("""WITH marked AS (
           |  SELECT user_id, ts,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
           |         THEN 1 ELSE 0 END AS brk
           |  FROM events WHERE user_id <= 20
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sessions AS (
           |  SELECT user_id, ts,
           |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
           |                   ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM marked)
           |SELECT user_id, MIN(ts) AS s_start, COUNT(*) AS cnt
           |FROM sessions GROUP BY user_id, sid""".stripMargin))

  /** Streaming exact deduplication (dropDuplicates state across the
    * stream), verified via the distinct-pair count per type.
    */
  val streamDedup: QueryDef = QueryDef("stream_dedup",
    (s, dir) => graft.streaming.Streams.dedupAvailableNow(s, dir),
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
           |FROM events GROUP BY event_type""".stripMargin))

  /** Watermark-bounded streaming dedup (state evicted past the
    * watermark — the unbounded-key-domain variant); corpus span is
    * inside the watermark, so the global-dedup oracle applies.
    */
  val streamDedupWm: QueryDef = QueryDef("stream_dedup_watermark",
    (s, dir) => graft.streaming.Streams.dedupWithinWatermarkAvailableNow(s, dir),
    Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
           |FROM events GROUP BY event_type""".stripMargin))

  /** Streaming hopping windows — same oracle as the bounded window_hop
    * (every event lands in exactly two 12h/6h windows).
    */
  val streamHop: QueryDef = QueryDef("stream_hop",
    (s, dir) => graft.streaming.Streams.hopAvailableNow(s, dir),
    Some("""SELECT time_bucket(INTERVAL '6 hours', ts)
           |         - k * INTERVAL '6 hours' AS w_start,
           |  COUNT(*) AS cnt
           |FROM events, (SELECT unnest([0, 1]) AS k)
           |GROUP BY 1""".stripMargin))

  /** Stream-stream inner join with an event-time range condition
    * (clicks × same-user views in the trailing 30 minutes), verified
    * against the equivalent batch join.
    */
  val streamStreamJoin: QueryDef = QueryDef("stream_stream_join",
    (s, dir) => graft.streaming.Streams.clickViewJoinAvailableNow(s, dir),
    Some("""SELECT c.user_id, COUNT(*) AS n_pairs
           |FROM (SELECT user_id, ts AS click_ts FROM events
           |      WHERE event_type = 'click' AND user_id < 20) c
           |JOIN (SELECT user_id, ts AS view_ts FROM events
           |      WHERE event_type = 'view' AND user_id < 20) v
           |  ON c.user_id = v.user_id
           | AND v.view_ts >= c.click_ts - INTERVAL '30' MINUTE
           | AND v.view_ts < c.click_ts
           |GROUP BY c.user_id""".stripMargin))

  /** Stream-stream LEFT OUTER join (see
    * [[graft.streaming.Streams.clickViewLeftOuterAvailableNow]]):
    * unmatched clicks emit null-extended once the watermark closes their
    * match window. Both engines restrict to clicks ≥2 h below the SLOWER
    * side's max event time (the final-watermark base) — the tail where
    * an unbounded run would still be undecided.
    */
  val streamStreamOuter: QueryDef = QueryDef("stream_ssjoin_outer",
    (s, dir) => graft.streaming.Streams.clickViewLeftOuterAvailableNow(s, dir),
    Some("""WITH base AS (SELECT LEAST(
           |    (SELECT MAX(ts) FROM events
           |     WHERE event_type = 'click' AND user_id < 20),
           |    (SELECT MAX(ts) FROM events
           |     WHERE event_type = 'view' AND user_id < 20)) AS m)
           |SELECT c.user_id,
           |  COUNT(v.view_ts) AS n_pairs,
           |  COUNT(CASE WHEN v.view_ts IS NULL THEN 1 END) AS n_unmatched
           |FROM (SELECT user_id, ts AS click_ts FROM events
           |      WHERE event_type = 'click' AND user_id < 20) c
           |LEFT JOIN (SELECT user_id, ts AS view_ts FROM events
           |           WHERE event_type = 'view' AND user_id < 20) v
           |  ON c.user_id = v.user_id
           | AND v.view_ts >= c.click_ts - INTERVAL '30' MINUTE
           | AND v.view_ts < c.click_ts
           |WHERE c.click_ts <= (SELECT m FROM base) - INTERVAL '2' HOUR
           |GROUP BY c.user_id""".stripMargin))

  /** Stream-stream FULL OUTER join: left-only clicks AND right-only
    * views both null-extend on watermark expiry (the view side's state
    * expires at view_ts + range — the mirror eviction). Same 2 h
    * below-the-slower-side cutoff, applied to whichever side's event
    * time the row carries.
    */
  val streamStreamFull: QueryDef = QueryDef("stream_ssjoin_full",
    (s, dir) => graft.streaming.Streams.clickViewFullOuterAvailableNow(s, dir),
    Some("""WITH c AS (SELECT user_id, ts AS click_ts FROM events
           |           WHERE event_type = 'click' AND user_id < 20),
           |v AS (SELECT user_id AS v_user, ts AS view_ts FROM events
           |      WHERE event_type = 'view' AND user_id < 20),
           |base AS (SELECT LEAST((SELECT MAX(click_ts) FROM c),
           |                      (SELECT MAX(view_ts) FROM v)) AS m)
           |SELECT COALESCE(c.user_id, v.v_user) AS uid,
           |  COUNT(CASE WHEN c.click_ts IS NOT NULL AND v.view_ts IS NOT NULL
           |             THEN 1 END) AS n_matched,
           |  COUNT(CASE WHEN v.view_ts IS NULL THEN 1 END) AS n_click_only,
           |  COUNT(CASE WHEN c.click_ts IS NULL THEN 1 END) AS n_view_only
           |FROM c FULL JOIN v
           |  ON c.user_id = v.v_user
           | AND v.view_ts >= c.click_ts - INTERVAL '30' MINUTE
           | AND v.view_ts < c.click_ts
           |WHERE COALESCE(c.click_ts, v.view_ts) <=
           |      (SELECT m FROM base) - INTERVAL '2' HOUR
           |GROUP BY 1""".stripMargin))

  /** Typed UDAF (Aggregator) registered and called from SQL: weighted
    * mean with explicit zero/reduce/merge — partial/final split like a
    * builtin. Inputs are integer-valued doubles, so the sums are exact
    * and the result matches the oracle's closed form bit-for-bit.
    */
  val udafWavg: QueryDef = QueryDef("udaf_wavg",
    (s, dir) => {
      Tables.registerAll(s, dir)
      s.udf.register("wavg",
        org.apache.spark.sql.functions.udaf(graft.functions.Udafs.WeightedAvg))
      s.sql("""SELECT l_returnflag, wavg(l_quantity, l_linenumber) AS wq
              |FROM lineitem GROUP BY l_returnflag""".stripMargin)
    },
    Some("""SELECT l_returnflag,
           |  SUM(l_linenumber * l_quantity) / SUM(CAST(l_linenumber AS DOUBLE)) AS wq
           |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  val defs: Seq[QueryDef] = Seq(
    joinAsof, joinRangeBinned, skewSalted, skewAdaptive, skewAqe,
    streamSession, streamDedup, streamDedupWm, streamHop, streamStreamJoin,
    streamStreamOuter, streamStreamFull, udafWavg)
}

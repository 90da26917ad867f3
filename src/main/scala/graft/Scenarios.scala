package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.operators.{Bloom, Dedup, Graph, Search, Similarity}

/** The named scale scenarios [[Run]] runs as `@<id>` targets. Each
  * builds its own fixture, times its arms through [[Run.Ctx.time]], keeps
  * its exactness `require`s; parameters are `key=value` with the
  * defaults declared in [[all]] (`None` = required).
  */
object Scenarios {
  import Bench.s3
  import Run.Ctx

  final case class Scenario(id: String, params: Seq[(String, Option[String])])(
    val body: Run.Ctx => Unit)

  val all: Seq[Scenario] = Seq(
    Scenario("census", Seq("dir" -> None))(census),
    Scenario("semantic", Seq("dir" -> None, "k" -> None))(semantic),
    Scenario("cc", Seq("dir" -> None))(connectedComponents),
    Scenario("search", Seq("dir" -> None, "needle" -> Some("merge batch")))(search),
    Scenario("graph_hub", Seq("nEdges" -> Some("1200000"),
      "hubFrac" -> Some("0.05")))(graphHub),
    Scenario("colgroup", Seq("dir" -> None))(columnGroup),
    Scenario("index", Seq("dir" -> None))(index),
    Scenario("bloom", Seq("dir" -> None))(bloom),
    Scenario("containment", Seq("n" -> Some("10000000")))(containment))

  val byId: Map[String, Scenario] = all.map(s => s.id -> s).toMap

  /** Full-scale equality check for the census family: the sampled
    * two-pass heavy hitter must return exactly the exact census's top-20
    * at every ScaleGen decade (the boilerplate planting guarantees every
    * top gram has 1-in-7 sample support at any replica count, so equality
    * is a construction fact here, not luck — a corpus without that
    * support would need a wider candidate pool, which is the documented
    * knob).
    */
  private def census(c: Ctx): Unit = {
    val dir = c("dir")
    val exact = Queries.byName("text_hot_ngrams").build(c.spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val sampled = Queries.byName("text_hot_ngrams_sampled").build(c.spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(exact == sampled,
      s"CENSUS MISMATCH at $dir:\nexact=$exact\nsampled=$sampled")
    c.say(s"$dir top-${exact.size} identical " +
      s"(df range ${exact.last._2}..${exact.head._2})")
  }

  /** Scale soak for the semantic-dedup family with the cluster-count
    * throttle applied: `semanticDedup` / `incrementalSemanticDedup` at a
    * caller-chosen K. The pinned oracle queries run K=8 (so the DuckDB
    * replay stays tractable), but K=8 at 100× means ~60k-vector clusters
    * and a quadratic in-cluster term — the paper's posture is K ∝ corpus
    * (50k clusters for 5B embeddings), and THIS scenario measures exactly
    * that.
    */
  private def semantic(c: Ctx): Unit = {
    val k = c("k").toInt
    val emb = Tables.load(c.spark, c("dir"), "embeddings")
    c.say(s"n=${emb.count()} K=$k")
    c.timed("semantic_dedup") {
      c.noop(Similarity.semanticDedup(emb, numCentroids = k))
    }
    val pruned = Similarity.semanticDedup(emb, numCentroids = k)
      .filter(!col("keep")).count()
    c.say(s"semantic_dedup pruned=$pruned")
    c.timed("semantic_incremental") {
      c.noop(Similarity.incrementalSemanticDedup(
        emb.filter("vec_id % 5 != 0"), emb.filter("vec_id % 5 = 0"),
        numCentroids = k))
    }
  }

  /** Connected-components soak: times [[Dedup.duplicateClusters]] at a
    * given SF over (a) the REAL MinHash pair graph (near-clique
    * components) and (b) a chain-heavy fixture (long paths — the shape
    * star contraction's O(log n) rounds exist for). Results are recorded
    * in BASELINE.md per round.
    */
  private def connectedComponents(c: Ctx): Unit = {
    val (spark, dir) = (c.spark, c("dir"))
    import spark.implicits._
    // (a) Real LSH pair graph via the gate query itself.
    val minhash = c.timed("minhash")(
      c.noop(Queries.byName("dedup_clusters_star").build(spark, dir))).min

    // (b) Chain-heavy fixture: 100 disjoint 64-node paths (diameter 63).
    val chains = spark.range(6400)
      .filter(col("id") % 64 =!= 63)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val chain = c.timed("chain (6400 nodes)")(
      c.noop(Dedup.duplicateClusters(chains, maxIters = 12))).min
    // Must reach the exact fixed point: 100 components of 64 docs.
    val got = Dedup.duplicateClusters(chains, maxIters = 12)
      .agg(count(lit(1)), sum("n_docs")).as[(Long, Long)].head()
    require(got == ((100L, 6400L)), s"fixed point wrong: $got")
    c.say(s"summary sf=$dir minhash=${s3(minhash)} s, chain=${s3(chain)} s")
  }

  /** Scale measurement for trigram substring search: one-time index build
    * + persisted-probe query latency vs the full LIKE scan, on a ScaleGen
    * corpus. Asserts the probe path returns exactly the scan's doc set.
    */
  private def search(c: Ctx): Unit = {
    val (dir, needle) = (c("dir"), c("needle"))
    val docs = Tables.load(c.spark, dir, "documents").select("doc_id", "text")
    // Always under target/ — never beside a read-only corpus.
    val idxPath = GraftSession.targetDir(
      "trigram_index_" + dir.replaceAll("[^A-Za-z0-9]", "_"))
    // One-shot: a rebuild would time the overwrite, not the build.
    val buildS = Run.secs(Search.writeTrigramIndex(docs, idxPath))
    val index = c.spark.read.parquet(idxPath)
    c.say(s"index_build ${s3(buildS)} s (${index.count()} postings)")
    def scan = docs.filter(col("text").contains(needle)).select("doc_id")
    def probe = Search.substringSearchWithIndex(index, docs, needle)
    c.timed("like_scan")(c.noop(scan))
    c.timed("index_probe")(c.noop(probe))
    val diff = scan.exceptAll(probe).count() + probe.exceptAll(scan).count()
    require(diff == 0, s"EXACTNESS VIOLATED: symmetric diff $diff")
    c.say(s"exactness ok (${scan.count()} matches)")
  }

  /** Planted-hub (power-law) soak for the graph family — the realistic
    * shape for co-occurrence graphs at 100 TB is Zipf-degreed, and the
    * near-uniform synthetic graphs soaked through r9 are the easy case
    * (r9 verdict "What's wrong" #3). One node carries `hubFrac` of ALL
    * edges; the claim under test is that the degree-ordered orientation in
    * [[graft.operators.Graph.triangleCount]] bounds the hub's adjacency
    * array: the hub is the maximum of the (degree, id) total order, so
    * every hub edge orients INTO it, its out-adjacency is empty, and the
    * wedge work (sum of out-degree²) stays background-sized no matter how
    * large the hub grows. Deterministic: xxhash64-derived endpoints, no
    * RNG.
    */
  private def graphHub(c: Ctx): Unit = {
    val (nEdges, hubFrac) = (c("nEdges").toLong, c("hubFrac").toDouble)
    // Materialize the fixture once so the timed runs measure the graph
    // operators, not edge generation.
    val edges = hubEdges(c.spark, nEdges, hubFrac).localCheckpoint()
    val nReal = edges.count()
    val hubDeg = edges.where("a = 0 OR b = 0").count()
    var triangles = 0L
    c.timed("triangle") {
      triangles = Graph.triangleCount(edges).collect().head.getLong(0)
    }
    c.timed("coeff")(c.noop(Graph.clusteringCoeffTopK(edges, 20)))
    c.say(s"edges=$nReal hub_degree=$hubDeg hub_frac=$hubFrac " +
      s"triangles=$triangles")
  }

  /** Uniform background edges + a planted hub (node 0) carrying
    * `hubFrac` of the edge budget. Node space = nEdges/10 (mean degree
    * ~20 on the background). All edges deduped and (a < b)-oriented.
    */
  private def hubEdges(spark: SparkSession, nEdges: Long,
                       hubFrac: Double): DataFrame = {
    val nNodes = math.max(nEdges / 10, 100L)
    val eHub = (nEdges * hubFrac).toLong
    val bg = spark.range(nEdges - eHub).selectExpr(
      s"1 + pmod(xxhash64(id, 1), ${nNodes - 1}) AS x",
      s"1 + pmod(xxhash64(id, 2), ${nNodes - 1}) AS y")
      .where("x <> y")
      .selectExpr("least(x, y) AS a", "greatest(x, y) AS b")
    val hub = spark.range(eHub).selectExpr(
      "CAST(0 AS BIGINT) AS a",
      s"1 + pmod(xxhash64(id, 3), ${nNodes - 1}) AS b")
    bg.union(hub).distinct()
  }

  /** The `colgroup_certified_broadcast` gate query's shape with the
    * realistic asymmetry: the preserved side is the FULL-WIDTH fact table
    * (the side a broadcast spares from the shuffle), the enrichment side
    * is the correlated composite-key join output whose size Spark's
    * min-per-key rule over-states ~30x.
    */
  private val ColumnGroupProbe =
    """SELECT w.l_orderkey, count(p.l_orderkey) AS pair_cnt,
      |       sum(w.l_extendedprice) AS price_sum
      |FROM gcgs_wide w LEFT JOIN
      |     (SELECT a.l_orderkey
      |      FROM gcgs_li a JOIN gcgs_li b
      |        ON a.l_partkey = b.l_partkey
      |       AND a.l_suppkey = b.l_suppkey) p
      |  ON p.l_orderkey = w.l_orderkey
      |GROUP BY w.l_orderkey""".stripMargin

  /** A/B measurement of [[graft.plans.ColumnGroupCertifiedBroadcast]] at a
    * given SF: the same correlated-composite-key probe as the
    * `colgroup_certified_broadcast` gate row, executed with and without
    * the registered column group, so BASELINE.md carries the measured
    * cost of the shuffle the certificate eliminates (and the plan each
    * side ran, so the numbers can't silently measure the same plan
    * twice).
    */
  private def columnGroup(c: Ctx): Unit = {
    val (spark, sfDir) = (c.spark, c("dir"))
    def joinLine(): String =
      spark.sql(ColumnGroupProbe).queryExecution.sparkPlan.toString
        .linesIterator
        .filter(l => l.contains("Join") && l.contains("l_orderkey"))
        .map(_.trim.take(90)).mkString(" | ")
    spark.sql("DROP TABLE IF EXISTS gcgs_li")
    spark.sql("DROP TABLE IF EXISTS gcgs_wide")
    spark.sql(s"""CREATE TABLE gcgs_li USING PARQUET AS
                 |SELECT l_orderkey, l_partkey, l_suppkey
                 |FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    spark.sql(s"""CREATE TABLE gcgs_wide USING PARQUET AS
                 |SELECT * FROM parquet.`$sfDir/lineitem.parquet`""".stripMargin)
    spark.sql("ANALYZE TABLE gcgs_li COMPUTE STATISTICS FOR ALL COLUMNS")
    spark.sql("ANALYZE TABLE gcgs_wide COMPUTE STATISTICS FOR ALL COLUMNS")

    c.timed("baseline")(c.noop(spark.sql(ColumnGroupProbe)))
    c.say(s"baseline_join: ${joinLine()}")
    val ndv = graft.catalog.ExtendedStats.analyzeColumnGroup(
      spark, "gcgs_li", Seq("l_partkey", "l_suppkey"))
    c.say(s"tuple_ndv=$ndv")
    c.timed("certified")(c.noop(spark.sql(ColumnGroupProbe)))
    c.say(s"certified_join: ${joinLine()}")
    spark.sql("DROP TABLE IF EXISTS gcgs_li")
    spark.sql("DROP TABLE IF EXISTS gcgs_wide")
  }

  /** Scale soak for the CREATE INDEX clustered-layout rewrite: build a
    * catalog table from a ScaleGen lineitem (storage order uncorrelated
    * with the index key), measure a selective probe's scan rows before
    * and after `create index` on `l_partkey`, and time the rewrite —
    * the one-shuffle cost the pruning amortizes.
    */
  private def index(c: Ctx): Unit = {
    val (spark, dir) = (c.spark, c("dir"))
    // AQE buries the scan inside query stages — the introspection
    // traversal descends into them (ZorderSpec's plain collect only
    // works on stage-less filter plans).
    def scanRows(df: DataFrame): Long = {
      df.collect()
      graft.api.PlanIntrospection.executedProfile(df)
        .filter(_._3.startsWith("Scan"))
        .flatMap(_._4).sum
    }
    GraftSession.removeTargetDir("warehouse/graft_idx_soak.db")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_idx_soak")
    spark.catalog.setCurrentDatabase("graft_idx_soak")

    // round-robin repartition destroys ScaleGen's replica key-striping
    // (keys are shifted per replica, which would leave the "heap"
    // layout accidentally range-clustered and understate the win)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice")
      .repartition(64)
    li.write.mode("overwrite").saveAsTable("li")
    val total = spark.table("li").count()
    val (loK, hiK) = {
      val r = spark.table("li")
        .selectExpr("min(l_partkey)", "max(l_partkey)").collect().head
      (r.getLong(0), r.getLong(1))
    }
    // ~1% selective key-range probe
    val hi = loK + math.max(1L, (hiK - loK) / 100)
    val probe = s"SELECT COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) " +
      s"AS q FROM li WHERE l_partkey BETWEEN $loK AND $hi"

    val heapRows = scanRows(spark.sql(probe))
    val heapS = c.timed("heap_probe")(spark.sql(probe).collect()).min
    val truth = spark.sql(probe).collect().head.toSeq

    // One-shot: the rewrite changes the table it would re-time.
    val rewriteS = Run.secs(
      SqlDialect.exec(spark, "create index idx_pk on li (l_partkey)")
        .getOrElse(sys.error("index shim did not match")))

    val seekRows = scanRows(spark.sql(probe))
    val seekS = c.timed("seek_probe")(spark.sql(probe).collect()).min
    require(spark.sql(probe).collect().head.toSeq == truth,
      "INDEX SOAK: probe result changed across the rewrite")
    c.say(f"$dir rows=$total heap_scan=$heapRows " +
      f"seek_scan=$seekRows rows_pruning=${heapRows.toDouble / seekRows}%.1fx " +
      f"speedup=${heapS / seekS}%.1fx rewrite=$rewriteS%.1fs")
  }

  /** Scale soak for the Bloom-prefilter family: contamination sweep and
    * ingest gate at ScaleGen decades, against the broadcast twin where
    * the twin's contract still holds.
    *
    * Three timings per corpus:
    *  - `contamination_bloom_sized`: capacity from the measured distinct
    *    holdout gram count ([[Bloom.holdoutGramCount]] — the ANALYZE-stats
    *    sizing the scaladoc prescribes), FPR 1%.
    *  - `contamination_bloom_default`: the oracle query's fixed 1M-key
    *    default. Overfilled at 100× (~9M grams in a 1M-capacity bitset) —
    *    measures the documented degradation mode: more rows reach the
    *    confirm join, results stay EXACT (fingerprint-asserted).
    *  - `contamination_broadcast`: the [[Dedup.contamination]] twin whose
    *    holdout-is-broadcast-small contract the Bloom variant retires.
    *
    * Exactness at full scale is asserted by [[ClusterCheck.fingerprint]]
    * equality across all three variants (the DuckDB oracle certifies
    * sf0.01 bit-for-bit; this certifies the decades the oracle can't
    * reach). Timings are min of warm passes: the bloom variants' costs
    * are dominated by shuffle-heavy gram pipelines whose wall time swings
    * 2-3x with host load; the min is the comparable number.
    */
  private def bloom(c: Ctx): Unit = {
    import ClusterCheck.fingerprint
    val docs = Tables.load(c.spark, c("dir"), "documents")
      .select("doc_id", "text")
    val n = docs.count()
    c.say(s"n=$n")
    val train = docs.filter("doc_id % 5 != 0")
    val holdout = docs.filter("doc_id % 5 = 0")

    var gramCount = 0L
    val sizingS = Run.secs { gramCount = Bloom.holdoutGramCount(holdout) }
    c.say(s"holdout_gram_count $gramCount sizing_cost=${s3(sizingS)}")

    def sized = Bloom.contaminationBloom(train, holdout, expectedItems = gramCount)
    def dflt = Bloom.contaminationBloom(train, holdout)
    c.timed("contamination_bloom_sized")(c.noop(sized))
    c.timed("contamination_bloom_default")(c.noop(dflt))
    // The broadcast twin is EXPECTED to die once the holdout gram set
    // outgrows what a driver can collect (it did at 1000×: 13.8M grams →
    // >1 GiB of serialized task results, spark.driver.maxResultSize).
    // That loud failure is the contract the Bloom variants retire — when
    // it happens, record it as the demonstration and compare the two
    // Bloom fingerprints against each other instead.
    val bcastFp =
      try {
        def b = Dedup.contamination(train, holdout)
        c.timed("contamination_broadcast")(c.noop(b))
        Some(fingerprint(b))
      } catch {
        case e: org.apache.spark.SparkException =>
          c.say("contamination_broadcast FAILED as the " +
            s"contract predicts at this scale: ${e.getMessage.take(160)}")
          None
      }
    val (fpS, fpD) = (fingerprint(sized), fingerprint(dflt))
    c.say(s"fingerprints sized=$fpS default=$fpD " +
      s"broadcast=${bcastFp.getOrElse("UNAVAILABLE (contract)")}")
    require(fpS == fpD && bcastFp.forall(_ == fpS),
      s"EXACTNESS VIOLATED: $fpS / $fpD / $bcastFp")

    val existing = docs.filter("doc_id % 2 = 0")
    val incoming = docs.filter("doc_id % 3 = 0")
    def ingest = Bloom.ingestDedupBloom(existing, incoming,
      expectedItems = math.max(1L, n / 2))
    def plain =
      incoming.select(col("doc_id"), md5(col("text")).as("h"))
        .join(existing.select(md5(col("text")).as("h")), Seq("h"), "left_anti")
        .select("doc_id", "h")
    c.timed("ingest_bloom_sized")(c.noop(ingest))
    c.timed("ingest_plain_antijoin")(c.noop(plain))
    val (fpI, fpP) = (fingerprint(ingest), fingerprint(plain))
    c.say(s"ingest fingerprints bloom=$fpI plain=$fpP")
    require(fpI == fpP, s"INGEST EXACTNESS VIOLATED: $fpI / $fpP")
  }

  /** Wall-clock A/B of [[graft.plans.ContainmentJoinReorder]] at scale —
    * the measured half of the r14/r15 planner-steering story (the tpch1 /
    * JOBENCH audits prove the rule picks different TREES; this scenario
    * proves the trees it picks are CHEAPER to execute).
    *
    * The ContainmentReorderSpec shape scaled past broadcast range so
    * join ORDER controls real shuffle volume: a fact table whose
    * composite key (k1, k2) is perfectly correlated — tuple-ndv
    * k1ndv×k2ndv with every fact pair present in the dim — joined to the
    * pair dim AND to a fanout-8 probe table on k3. Spark's min-per-key
    * containment estimate prices the pair join at |F|·|D|/max(ndv_k) =
    * (k2ndv×)|F| — three orders of magnitude over the truth |F| — so its
    * CBO defers the pair join behind the probe join and ships the
    * fanout-multiplied intermediate (8·|F| rows) into the pair
    * sort-merge join. Under the registered column-group ndv the
    * containment DP prices the pair join exactly (|F|) and puts it
    * first: the second join's input drops 8×. Both dims are sized past
    * `autoBroadcastJoinThreshold` AFTER column pruning, so the
    * intermediate genuinely shuffles — the same physics a 1000-executor
    * pair join lives with.
    *
    * `n` = fact rows; the default 10M wants `SPARK_DRIVER_MEM=48g`. The
    * timed passes alternate off/apply (interleaved — the page-cache
    * order-bias lesson) after one untimed warm pass each; the
    * deepest-join leaf sets are printed so the steering is visible in
    * the artifact.
    */
  private def containment(c: Ctx): Unit = {
    val (spark, n) = (c.spark, c("n").toLong)
    def withMode[T](mode: String)(f: => T): T =
      GraftSession.withConf(spark, "spark.graft.containmentReorder", mode)(f)
    // Leaf tables of the DEEPEST join in the optimized plan — which pair
    // the chosen order joins first.
    def firstJoin(sql: String): Seq[String] = {
      import org.apache.spark.sql.catalyst.plans.logical.Join
      spark.sql(sql).queryExecution.optimizedPlan.collect {
        case j: Join => j.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation
              if r.catalogTable.isDefined =>
            r.catalogTable.get.identifier.table
        }
      }.lastOption.getOrElse(Nil).sorted
    }
    val k1n = 4000L
    val k2n = 1000L
    val k3n = 200000L
    val fanout = 8L

    c.say(s"building fact=$n dim=${k1n * k2n} " +
      s"t3=${k3n * fanout} (warehouse tables)")
    Seq("cjs_fact", "cjs_dim", "cjs_t3").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.sql(
      s"""CREATE TABLE cjs_fact USING parquet AS
         |SELECT id % $k1n AS k1, (id div $k1n) % $k2n AS k2,
         |       id % $k3n AS k3, id AS payload
         |FROM range($n)""".stripMargin)
    spark.sql(
      s"""CREATE TABLE cjs_dim USING parquet AS
         |SELECT id % $k1n AS k1, id div $k1n AS k2, id AS dim_val
         |FROM range(${k1n * k2n})""".stripMargin)
    spark.sql(
      s"""CREATE TABLE cjs_t3 USING parquet AS
         |SELECT id % $k3n AS k3, id AS t3_val
         |FROM range(${k3n * fanout})""".stripMargin)
    Seq("cjs_fact", "cjs_dim", "cjs_t3").foreach(t =>
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS"))
    graft.catalog.ExtendedStats.analyzeColumnGroup(
      spark, "cjs_fact", Seq("k1", "k2"))
    graft.catalog.ExtendedStats.analyzeColumnGroup(
      spark, "cjs_dim", Seq("k1", "k2"))

    val query =
      """SELECT sum(f.payload + d.dim_val + t.t3_val) AS s
        |FROM cjs_fact f
        |JOIN cjs_dim d ON f.k1 = d.k1 AND f.k2 = d.k2
        |JOIN cjs_t3 t ON f.k3 = t.k3""".stripMargin

    c.say(s"first join off=${withMode("off")(firstJoin(query))} " +
      s"apply=${withMode("apply")(firstJoin(query))}")
    c.time(Seq("off", "apply").map(m =>
      m -> (() => withMode(m)(c.noop(spark.sql(query))))): _*)
    Seq("cjs_fact", "cjs_dim", "cjs_t3").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}

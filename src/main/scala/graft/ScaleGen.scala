package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off scale-up corpus generator: replicate + perturb the driver's
  * sf0.1 parquet N× (default 10× ≈ sf1) so the bench headliners can be
  * soaked at a scale no driver-provided directory reaches. Output goes
  * under target/ (gitignored); TESTDATA stays untouched.
  *
  * Replication preserves the workload's *shape* per replica instead of
  * inflating pathologies:
  *  - every table's keys are shifted by `replica * (max_key + 1)`, so
  *    referential integrity (lineitem→orders→customer, lineitem→part/
  *    supplier, events→customer) holds corpus-wide and joins carry 10×
  *    the rows without manufactured key collisions;
  *  - document text is word-perturbed per replica (every 4th word gets a
  *    replica tag), so within-replica dup/near-dup structure — including
  *    the clusters the headliners plant at runtime — is preserved
  *    exactly, while cross-replica copies fall far below the 0.8 Jaccard
  *    near-dup threshold (~0.3–0.45): dup clusters scale in COUNT, not in
  *    size, matching how a real corpus grows;
  *  - embeddings are rotated by `replica` positions — a rotation keeps
  *    within-replica cosine structure bit-exact (both members of a pair
  *    rotate together) while decorrelating replicas, so ANN partitions
  *    grow 10× without 10×-deep duplicate neighborhoods;
  *  - dims (nation, region) are copied as-is, exactly like a real 10×
  *    corpus: fact growth, stable dimensions.
  *
  * Mode `zipf` (4th arg) additionally plants a Zipf head on
  * `l_orderkey` — three global hot keys carrying ~17.5% of all lineitem
  * rows — for skew soaks (see the lineitem override below); all other
  * tables are unchanged.
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else GraftSession.targetDir("sf1")
    val replicas = if (args.length > 2) args(2).toInt else 10
    val mode = if (args.length > 3) args(3) else "uniform"
    require(Set("uniform", "zipf")(mode), s"unknown mode $mode")
    val spark = GraftSession.local(32)
    generate(spark, src, out, replicas, mode)
    spark.stop()
  }

  def generate(spark: SparkSession, src: String, out: String,
               replicas: Int, mode: String = "uniform"): Unit = {
    val t0 = System.nanoTime()
    def load(name: String): DataFrame =
      graft.catalog.Tables.load(spark, src, name)
    // max cast to long defensively: an INT32-keyed source parquet would
    // otherwise hand back an Integer and getLong would throw.
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key)).cast("long")).head().getLong(0) + 1

    val custS = stride(load("customer"), "c_custkey")
    val ordS = stride(load("orders"), "o_orderkey")
    val partS = stride(load("part"), "p_partkey")
    val suppS = stride(load("supplier"), "s_suppkey")
    // Sparse stride: headliners plant dup copies at doc_id + 10000 at
    // RUNTIME (PipelineQueries.plantedCorpus), so replica blocks must
    // leave that offset unoccupied — a dense stride would alias planted
    // ids onto real docs of a later replica and weld their clusters.
    val docS = math.max(stride(load("documents"), "doc_id"), 100000L)
    val vecS = stride(load("embeddings"), "vec_id")
    val evtS = stride(load("events"), "event_id")

    /** Union of `replicas` copies of `df`, each transformed by
      * per-replica column overrides (replica 0 is the identity).
      */
    def replicate(df: DataFrame)(overrides: Int => Seq[(String, String)])
        : DataFrame =
      (0 until replicas).map { i =>
        overrides(i).foldLeft(df) { case (d, (c, e)) =>
          d.withColumn(c, expr(e))
        }
      }.reduce(_.unionByName(_))

    def shift(c: String, s: Long, i: Int) = c -> s"$c + ${i.toLong * s}L"

    /** Replica-i text: every 4th word (by position) carries a replica
      * tag. Within a replica all docs are perturbed at the SAME
      * positions, so planted near-dups stay near-dups; across replicas
      * ≥25% of word positions differ, killing enough 3-gram shingles to
      * stay far below the 0.8 near-dup threshold.
      */
    def perturbText(i: Int): String =
      if (i == 0) "text"
      else s"""array_join(transform(split(text, ' '),
              |  (w, j) -> IF(j % 4 == $i % 4, concat(w, '_r$i'), w)), ' ')""".stripMargin

    /** Rotation amount wraps at dim-1 so any replica count is safe; two
      * replicas sharing a rotation (i and i + dim - 1) still differ in
      * keys and text, and their equal vectors just model the repeated
      * embeddings any real corpus carries.
      */
    def rotateEmb(i: Int): String =
      if (i == 0) "embedding"
      else {
        val r = s"(pmod(${i - 1}, size(embedding) - 1) + 1)"
        s"""concat(slice(embedding, $r + 1, size(embedding) - $r),
           |       slice(embedding, 1, $r))""".stripMargin
      }

    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> load("region"),
      "nation" -> load("nation"),
      "customer" -> replicate(load("customer"))(i =>
        Seq(shift("c_custkey", custS, i))),
      "supplier" -> replicate(load("supplier"))(i =>
        Seq(shift("s_suppkey", suppS, i))),
      "part" -> replicate(load("part"))(i =>
        Seq(shift("p_partkey", partS, i))),
      "orders" -> replicate(load("orders"))(i =>
        Seq(shift("o_orderkey", ordS, i), shift("o_custkey", custS, i))),
      // mode=zipf plants a Zipf head on l_orderkey: a deterministic hash
      // bucket sends ~17.5% of ALL lineitem rows (across every replica)
      // to three GLOBAL hot order keys — 10% to key 1, 5% to key 2,
      // 2.5% to key 3 (orders of replica 0, so referential integrity
      // holds) — while the remaining rows shift normally. This is the
      // shuffle-killer shape at 100 TB: one join/group-by key carrying
      // a double-digit percentage of the fact table, the case AQE's
      // skew-join split and partial aggregation must absorb.
      "lineitem" -> replicate(load("lineitem"))(i =>
        if (mode == "zipf") {
          val b = s"pmod(hash(l_orderkey, l_linenumber, $i), 1000)"
          Seq("l_orderkey" ->
            s"""CASE WHEN $b < 100 THEN 1L
               |     WHEN $b < 150 THEN 2L
               |     WHEN $b < 175 THEN 3L
               |     ELSE l_orderkey + ${i.toLong * ordS}L END""".stripMargin,
            shift("l_partkey", partS, i), shift("l_suppkey", suppS, i))
        } else
          Seq(shift("l_orderkey", ordS, i), shift("l_partkey", partS, i),
            shift("l_suppkey", suppS, i))),
      "events" -> replicate(load("events"))(i =>
        Seq(shift("event_id", evtS, i), shift("user_id", custS, i))),
      // n_chars recomputed after perturbation (as BIGINT, matching the
      // source schema) so the metadata column stays true for every
      // replica's rewritten text.
      "documents" -> replicate(load("documents"))(i =>
        Seq(shift("doc_id", docS, i), "text" -> perturbText(i)))
        .withColumn("n_chars", length(col("text")).cast("long")),
      "embeddings" -> replicate(load("embeddings"))(i =>
        Seq(shift("vec_id", vecS, i), "embedding" -> rotateEmb(i)))
    )
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scalegen] $name written")
    }
    println(f"[scalegen] done ${replicas}x -> $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }
}

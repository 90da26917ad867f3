package graft.catalog

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}

import graft.api.PlanIntrospection.operators

/** Extended statistics: COLUMN-GROUP NDV — the number of distinct
  * value TUPLES over a set of columns, the statistic that fixes
  * multi-key join estimation.
  *
  * Per-column stats force an independence assumption: Spark's
  * `JoinEstimation` prices a 2-key equi-join by multiplying the two
  * per-key selectivities, so a composite key whose components are
  * correlated (every (ps_partkey, ps_suppkey) pair is one partsupp row;
  * lineitem references exactly those pairs) is underestimated by the
  * ratio ndv₁·ndv₂ / ndv(tuple). The reference's estimator makes the
  * OPPOSITE simplification — `LogicCard.cs:154-200` multiplies
  * min(dl,dr) per key — and wins on its own CE battery's probe 7 for
  * that reason. Warehouse engines close this with multi-column
  * statistics (Oracle extended stats / column groups, CockroachDB
  * multi-column stats); this module is that facility for graft:
  *
  *   - [[analyzeColumnGroup]] computes ndv(tuple) with ONE distributed
  *     aggregate and persists it in the table's TBLPROPERTIES
  *     (`graft.stats.colgroup.<c1>,<c2>` — sorted, so lookup is
  *     order-insensitive), next to where ANALYZE keeps row counts;
  *   - [[StatsImport]]-style injection works too — the property is
  *     plain catalog metadata, settable without a scan;
  *   - [[containmentEstimate]] applies the containment bound to a
  *     physical equi-join — max(g_L, g_R) for a registered composite
  *     group, max(ndv_L, ndv_R) from catalog column stats per single
  *     key — and composes it RECURSIVELY through join chains (each
  *     side that roots at another join is priced the same way, not by
  *     Spark's compounding intermediate re-derivation). This is the
  *     estimate graft's introspection surface
  *     ([[graft.api.PlanIntrospection]]) reports for join nodes, and
  *     what the CE battery grades;
  *   - the F2 moment recorded alongside the ndv feeds
  *     [[graft.plans.ColumnGroupCertifiedBroadcast]], which turns the
  *     statistic into actual plan changes (certified broadcasts Spark's
  *     min-per-key estimator would deny).
  *
  * At 100 TB the analyze cost is ONE distributed aggregate over the
  * group (partial map-side combine, one shuffle on the tuple), run for
  * the handful of composite join keys a schema actually has; the payoff
  * is join-size estimates that no longer carry the ×ndv-correlation
  * error into every downstream broadcast/shuffle decision.
  */
object ExtendedStats {

  private val Prefix = "graft.stats.colgroup."
  private val F2Prefix = "graft.stats.colgroupf2."
  private val RowsPrefix = "graft.stats.colgrouprows."
  private val SizePrefix = "graft.stats.colgroupsize."

  def propertyKey(cols: Seq[String]): String =
    Prefix + cols.map(_.toLowerCase).sorted.mkString(",")

  /** Property key of the tuple-frequency SECOND MOMENT F2 = Σ_t c(t)² —
    * the self-join size of the column group (AMS/sketching literature's
    * F2). For any equi-join on the tuple, Cauchy–Schwarz gives
    * |L ⋈ R| = Σ_t c_L(t)·c_R(t) ≤ √(F2_L · F2_R): a TRUE upper bound,
    * which is what a broadcast decision may safely act on (an estimate,
    * however good, cannot certify that a build side fits).
    */
  def f2PropertyKey(cols: Seq[String]): String =
    F2Prefix + cols.map(_.toLowerCase).sorted.mkString(",")

  /** Property key of the table row count AT ANALYZE TIME — the moments
    * above are a snapshot, and data changed after the analyze can
    * silently under-state F2. A consumer that acts on F2 as a HARD
    * certificate (the broadcast rule) requires the snapshot identity
    * (this count AND [[sizePropertyKey]]'s byte size) to match the
    * catalog's live stats EXACTLY, declining on any mismatch: a
    * one-sided growth check would pass an INSERT OVERWRITE that
    * replaces distinct-key rows with one hot key at equal-or-lower row
    * count — same cardinality, arbitrarily larger true join output
    * (the r13 advisory).
    */
  def rowsPropertyKey(cols: Seq[String]): String =
    RowsPrefix + cols.map(_.toLowerCase).sorted.mkString(",")

  /** Property key of the catalog sizeInBytes AT ANALYZE TIME — the
    * second half of the snapshot identity next to [[rowsPropertyKey]].
    * A same-row-count rewrite that the count alone cannot see moves
    * the table's byte size (different values, different encoded size),
    * so requiring both to match pins the certificate to the exact
    * analyzed snapshot.
    */
  def sizePropertyKey(cols: Seq[String]): String =
    SizePrefix + cols.map(_.toLowerCase).sorted.mkString(",")

  /** Compute ndv, F2 and the row count over the column tuple (exact —
    * the groups a DBA registers are join keys, where exactness matters,
    * and all three come out of the SAME single aggregate pass) and
    * persist them on the table. Returns the ndv.
    */
  def analyzeColumnGroup(spark: SparkSession, table: String,
                         cols: Seq[String]): Long = {
    require(cols.size >= 2, s"a column group needs ≥2 columns, got $cols")
    val tuple = cols.map(c => s"`$c`").mkString(", ")
    // F2 as double: Σc² overflows int64 past ~10^9.5 rows of one tuple,
    // and a statistic needs relative precision, not exactness. The
    // coalesce covers the empty table: ndv=0, F2=0, rows=0 are its true
    // values (any join on the tuple yields zero rows).
    val row = spark.sql(
      s"""SELECT count(*) AS ndv,
         |       coalesce(sum(cast(c AS double) * c), 0D) AS f2,
         |       coalesce(sum(c), 0L) AS rows
         |FROM (SELECT count(*) AS c FROM $table GROUP BY $tuple)"""
        .stripMargin).head()
    val (ndv, f2, rows) = (row.getLong(0), row.getDouble(1), row.getLong(2))
    // The broadcast rule verifies snapshot freshness by EXACT match
    // against the catalog's live (rowCount, sizeInBytes); a
    // never-ANALYZEd table has none, and a stale one (last ANALYZE
    // before a data change) records a snapshot identity that would
    // dis-arm the certificate forever despite the moments being
    // current. Whenever the catalog's count disagrees with the truth
    // this statement just measured, refresh it (a count, not a column
    // scan) so `ANALYZE ... FOR COLUMN GROUP` alone is self-sufficient.
    def catalogStats = scala.util.Try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      spark.sessionState.catalog.getTableMetadata(id).stats
    }.toOption // None = non-catalog relation: no snapshot to establish
    val rowCountCurrent = catalogStats.forall(
      _.flatMap(_.rowCount).contains(BigInt(rows)))
    if (!rowCountCurrent) spark.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS")
    // Record the snapshot identity the freshness gate compares against
    // — the catalog stats as of THIS analyze (post-refresh). Absent for
    // non-catalog relations: the certificate then declines (cannot
    // verify), same as before this facility existed.
    val sizeProp = catalogStats.flatten.map(s =>
      s", '${sizePropertyKey(cols)}' = '${s.sizeInBytes}'").getOrElse("")
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('${propertyKey(cols)}' = '$ndv', '${f2PropertyKey(cols)}' = '$f2'," +
      s" '${rowsPropertyKey(cols)}' = '$rows'$sizeProp)")
    ndv
  }

  /** The registered group ndv of `cols` from a table-properties map —
    * the snapshot a resolved plan already carries in its
    * `LogicalRelation.catalogTable`, so optimizer rules can consult the
    * statistic without a catalog round-trip per join node.
    */
  def groupNdvFromProperties(props: Map[String, String],
                             cols: Seq[String]): Option[Long] =
    props.get(propertyKey(cols)).map(_.toLong)

  /** The registered F2 (tuple-frequency second moment) of `cols` from a
    * table-properties map; see [[f2PropertyKey]].
    */
  def groupF2FromProperties(props: Map[String, String],
                            cols: Seq[String]): Option[Double] =
    props.get(f2PropertyKey(cols)).map(_.toDouble)

  /** The analyze-time row count recorded next to the group moments; see
    * [[rowsPropertyKey]]. Absent on snapshots written before the count
    * was recorded or injected without one — consumers that need a hard
    * certificate must treat absence as "cannot verify freshness".
    */
  def groupRowsFromProperties(props: Map[String, String],
                              cols: Seq[String]): Option[Long] =
    props.get(rowsPropertyKey(cols)).map(_.toLong)

  /** The analyze-time catalog sizeInBytes recorded next to the group
    * moments; see [[sizePropertyKey]]. Same absence contract as
    * [[groupRowsFromProperties]].
    */
  def groupSizeFromProperties(props: Map[String, String],
                              cols: Seq[String]): Option[BigInt] =
    props.get(sizePropertyKey(cols)).map(BigInt(_))

  /** The registered group ndv of `cols` on `table`, if analyzed. None
    * for a missing table too — an introspection convenience must never
    * throw where its caller would just fall back to Spark's estimate.
    */
  def columnGroupNdv(spark: SparkSession, table: String,
                     cols: Seq[String]): Option[Long] =
    scala.util.Try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      spark.sessionState.catalog.getTableMetadata(id).properties
    }.toOption.flatMap(groupNdvFromProperties(_, cols))

  private val NdvPrefix = "graft.stats.ndv."

  def ndvPropertyKey(col: String): String = NdvPrefix + col.toLowerCase

  /** EXACT single-column ndv, persisted like the group stats. ANALYZE's
    * own distinctCount is an HLL sketch (±2–5%), which is fine for
    * threshold decisions but visible in the containment divisor: a
    * join-key ndv read 199 instead of 200 inflates every chain estimate
    * through that edge by the same ratio. Join keys are few and their
    * exactness pays on every join, so the facility mirrors what it
    * already does for tuples — one distributed aggregate per column
    * batch (count(distinct) columns share the pass via expand).
    */
  def analyzeExactNdv(spark: SparkSession, table: String,
                      cols: Seq[String]): Map[String, Long] = {
    require(cols.nonEmpty)
    val row = spark.sql(cols.map(c => s"count(DISTINCT `$c`)")
      .mkString("SELECT ", ", ", s" FROM $table")).head()
    val ndvs = cols.zipWithIndex.map { case (c, i) => c -> row.getLong(i) }
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES (" +
      ndvs.map { case (c, n) => s"'${ndvPropertyKey(c)}' = '$n'" }
        .mkString(", ") + ")")
    // Feed the exact counts into Spark's OWN planning, not only the
    // introspection surface: merged into the catalog column stats (the
    // same `CatalogStatistics` ANALYZE FOR ALL COLUMNS writes, via the
    // same alterTableStats path), every native estimate — join sizes,
    // group counts, CBO join-reorder costs — prices from the exact ndv
    // instead of the HLL sketch's ±2-5%. Requires the table to already
    // carry catalog stats (sizeInBytes is mandatory on the stats
    // object); a never-ANALYZEd or non-catalog relation keeps
    // property-only registration, same visibility as before. Only
    // columns that ALREADY carry ANALYZE colStats are merged into
    // (r15, the r14 advisory): a default-base CatalogColumnStat would
    // publish a distinctCount-only stat — no nullCount/avgLen/min/max
    // — into native estimator paths that assume ANALYZE's complete
    // shape; a never-column-ANALYZEd column keeps property-only
    // registration (the introspection/containment surfaces read it
    // from there either way).
    scala.util.Try {
      val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
      spark.sessionState.catalog.getTableMetadata(id).stats
    }.toOption.flatten.foreach { st =>
      val merged = ndvs.foldLeft(st.colStats) { case (cs, (c, n)) =>
        cs.get(c).fold(cs)(base =>
          cs.updated(c, base.copy(distinctCount = Some(BigInt(n)))))
      }
      org.apache.spark.sql.graftbridge.StatsBridge.setTableStats(
        spark, table, st.copy(colStats = merged))
    }
    ndvs.toMap
  }

  def exactNdvFromProperties(props: Map[String, String],
                             col: String): Option[Long] =
    props.get(ndvPropertyKey(col)).map(_.toLong)

  // ---------------------------------------------------------------
  // String equal-depth histogram — the statistic behind LIKE-prefix
  // estimation. Spark's ANALYZE histograms cover numeric/date types
  // only, so `p_type LIKE 'MEDIUM%'` gets selectivity 1.0 from
  // FilterEstimation (the CE battery's worst remaining probe at 5.7×).
  // The reference instead uses PostgreSQL's per-character heuristic
  // (0.2 per fixed char — `Statis.cs:405-420`), which is why ITS LIKE
  // probe errs 35×. A prefix predicate is exactly the string range
  // [p, succ(p)), and an equal-depth histogram prices a range to
  // ±1-bucket resolution — this is that histogram for strings.
  // ---------------------------------------------------------------

  private val StrHistPrefix = "graft.stats.strhist."

  def strHistPropertyKey(col: String): String =
    StrHistPrefix + col.toLowerCase

  /** Rows the boundary sort may process before sampling kicks in. At
    * warehouse scale an exact full sort per analyzed column is not the
    * deal — equal-depth boundaries from a uniform row sample converge
    * at O(1/√sample) per bucket, so 2M rows price a 10^11-row column to
    * well under the histogram's own bucket resolution.
    */
  private val StrHistSampleCap = 2000000L

  /** Build an equal-depth histogram (≤ `buckets` buckets) over a string
    * column and persist its boundaries + non-null count in
    * TBLPROPERTIES. One pass for the non-null count, one (sampled,
    * capped) sort for the boundaries — an explicit ANALYZE-time cost,
    * paid only for columns a DBA registers. Returns the bucket count.
    */
  def analyzeStringHistogram(spark: SparkSession, table: String,
                             column: String, buckets: Int = 254): Int = {
    import org.apache.spark.sql.functions.{col, expr, max, min}
    val base = spark.table(table)
      .select(col(column).cast("string").as("c"))
      .where("c IS NOT NULL")
    val total = base.count()
    // Empty / all-NULL column: there are no boundaries to record — skip
    // persisting (an encoded '0' property could never be read back) and
    // report 0 buckets rather than boundaries.size - 1 = -1.
    if (total == 0) return 0
    val frac = if (total > StrHistSampleCap)
      StrHistSampleCap.toDouble / total else 1.0
    val sampled = if (frac < 1.0) base.sample(frac, 42L) else base
    val k = math.max(1, math.min(buckets, total.min(Int.MaxValue).toInt))
    // ntile over a global ORDER BY: a single-partition sort of ≤2M
    // sampled rows — bounded by the cap above, never by table size.
    val rows = sampled
      .select(col("c"), expr(s"ntile($k) OVER (ORDER BY c) AS b"))
      .groupBy("b").agg(min("c").as("lo"), max("c").as("hi"))
      .orderBy("b").collect()
    val full =
      if (rows.isEmpty) IndexedSeq.empty[String]
      else (rows.head.getAs[String]("lo") +:
        rows.map(_.getAs[String]("hi")).toSeq).toIndexedSeq
    // Metastore property values are bounded (Hive's PARAM_VALUE is
    // 4000 chars); long boundary strings at 254 buckets can exceed it.
    // Halving an equal-depth boundary list (keep first/last, every 2nd
    // inside) yields the equal-depth histogram of half the buckets —
    // resolution degrades gracefully instead of ALTER TABLE throwing
    // on a Hive-backed catalog.
    def encode(bs: IndexedSeq[String]): String =
      (total.toString +: bs.map(b =>
        java.net.URLEncoder.encode(b, "UTF-8"))).mkString(";")
    var boundaries = full
    var enc = encode(boundaries)
    while (enc.length > 3500 && boundaries.size > 9) {
      boundaries = boundaries.head +:
        boundaries.tail.init.zipWithIndex.collect {
          case (b, i) if i % 2 == 1 => b
        } :+ boundaries.last
      enc = encode(boundaries)
    }
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('${strHistPropertyKey(column)}' = '${enc.replace("'", "''")}')")
    boundaries.size - 1
  }

  /** (non-null count, boundaries) of a registered string histogram. */
  def stringHistogramFromProperties(props: Map[String, String],
      col: String): Option[(Long, IndexedSeq[String])] =
    props.get(strHistPropertyKey(col)).flatMap { enc =>
      val parts = enc.split(";", -1)
      scala.util.Try((parts.head.toLong, parts.tail.toIndexedSeq
        .map(java.net.URLDecoder.decode(_, "UTF-8")))).toOption
        .filter(_._2.size >= 2)
    }

  /** 8 UTF-8 bytes starting at `skip` as a base-256 fraction in [0,1)
    * — the interpolation device for a string's position inside a
    * bucket. `skip` is the bucket bounds' common prefix length, so the
    * 8 bytes of resolution are spent where the bounds actually differ
    * (long shared prefixes — 'MEDIUM ANODIZED' vs 'MEDIUM POLISHED' —
    * would otherwise exhaust the window before any signal).
    */
  private def strFrac(s: String, skip: Int): Double = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var v = 0.0; var scale = 1.0 / 256; var i = skip
    while (i < math.min(skip + 8, b.length)) {
      v += (b(i) & 0xff) * scale; scale /= 256; i += 1
    }
    v
  }

  /** UTF-8 binary order — the order Spark's ORDER BY sorted the
    * boundaries in (UTF8String compares bytes). Scala's String `<` is
    * UTF-16 code-unit order, which DISAGREES for strings mixing
    * supplementary characters (surrogate pairs) with U+E000–U+FFFF —
    * a bucket could be misclassified fully-below a range it straddles.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var i = 0
    while (i < x.length && i < y.length) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }
  private def utf8Le(a: String, b: String): Boolean = !utf8Lt(b, a)

  /** Fraction of the histogram's rows in [lo, hi) — sum of full-bucket
    * depths plus byte-interpolated partial ends. UTF-8-order string
    * comparisons decide full/empty/partial (exact, matching the sort
    * that built the boundaries); fractions only place interior
    * endpoints within a straddled bucket. Result is in [0,1] by
    * construction.
    */
  def rangeSelectivity(boundaries: IndexedSeq[String],
                       lo: String, hi: Option[String]): Double = {
    val k = boundaries.size - 1
    if (k < 1) return 0.0
    def bucketOverlap(i: Int): Double = {
      val (bLo, bHi) = (boundaries(i), boundaries(i + 1))
      if (hi.exists(utf8Le(_, bLo)) || utf8Lt(bHi, lo)) 0.0
      else if (utf8Le(lo, bLo) && hi.forall(utf8Lt(bHi, _))) 1.0
      else {
        val skip = bLo.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          .zip(bHi.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          .takeWhile { case (x, y) => x == y }.length
        val (fLo, fHi) = (strFrac(bLo, skip), strFrac(bHi, skip))
        if (fHi <= fLo) 0.5 // single-value bucket straddled: half credit
        else {
          val from = if (utf8Le(lo, bLo)) fLo
            else math.max(fLo, strFrac(lo, skip))
          val to = hi match {
            case Some(h) if utf8Lt(h, bHi) => math.min(fHi, strFrac(h, skip))
            case _ => fHi
          }
          math.min(1.0, math.max(0.0, (to - from) / (fHi - fLo)))
        }
      }
    }
    (0 until k).map(bucketOverlap).sum / k
  }

  /** Selectivity of `col LIKE 'prefix%'` against a registered string
    * histogram. The histogram records non-null rows, so the range
    * fraction is relative to NON-NULL rows; when the surrounding
    * estimate has NOT already excluded nulls, the caller passes
    * `nullsAlreadyExcluded = false` and the fraction is scaled by
    * nonNull/tableRows. A caller whose base estimate already applied
    * `isnotnull(col)` (Spark infers it next to StartsWith whenever
    * column stats exist) must pass `true`, or the null fraction is
    * counted twice — a systematic under-estimate on nullable columns.
    * None when no histogram is registered for the column.
    */
  def prefixSelectivity(props: Map[String, String], col: String,
                        prefix: String, tableRows: BigInt,
                        nullsAlreadyExcluded: Boolean): Option[Double] =
    stringHistogramFromProperties(props, col).map { case (nonNull, bs) =>
      val sel = rangeSelectivity(bs, prefix, prefixSuccessor(prefix))
      if (nullsAlreadyExcluded || tableRows <= 0) sel
      else sel * (BigDecimal(nonNull) / BigDecimal(tableRows)).toDouble
    }

  /** The least string greater than every string with this prefix, in
    * the UTF-8 byte order every comparison here uses. Computed at the
    * CODE-POINT level (UTF-8 preserves code-point order, so the two
    * orders agree): increment the last non-maximal code point, dropping
    * any U+10FFFF tail. The one gap is the surrogate range — U+D7FF+1
    * is an unpaired surrogate whose UTF-8 encoding (`getBytes` emits
    * '?' 0x3F) would compare BELOW the prefix and collapse the range,
    * so the increment skips to U+E000, the next valid scalar. A prefix
    * that itself ends in an unpaired surrogate is already lossy under
    * `getBytes` (encoded as '?'), so its successor increments that
    * encoded byte: '@'. None for prefixes of only U+10FFFF (match is
    * unbounded above).
    */
  def prefixSuccessor(prefix: String): Option[String] = {
    var i = prefix.length
    while (i > 0) {
      val cp = prefix.codePointBefore(i)
      if (cp >= 0xD800 && cp <= 0xDFFF) // unpaired surrogate → '?' byte
        return Some(prefix.substring(0, i - 1) + '@')
      val cpLen = Character.charCount(cp)
      if (cp != 0x10FFFF) {
        val next = if (cp == 0xD7FF) 0xE000 else cp + 1
        return Some(prefix.substring(0, i - cpLen) +
          new String(Character.toChars(next)))
      }
      i -= cpLen
    }
    None
  }

  /** Resolve a side's join-key attributes to (table properties,
    * columns) — defined only when every key column comes from the SAME
    * base-table scan (aliased/derived keys keep Spark's own estimate).
    * Properties come from the scan's own `logicalLink` catalog snapshot
    * (no catalog round-trip, and database-qualification is moot); the
    * fallback metadata lookup uses the scan's FULL identifier and
    * degrades to None rather than throwing — a same-named table in the
    * current database must never be consulted by accident.
    */
  private def keyOrigin(spark: SparkSession, side: SparkPlan,
                        keys: Seq[AttributeReference])
      : Option[(Map[String, String], Seq[String])] = {
    val scans =
      operators(side).collect { case (_, s: FileSourceScanExec) => s }
    val home = scans.filter(s =>
      keys.forall(k => s.output.exists(_.exprId == k.exprId)))
    home match {
      case Seq(s) =>
        s.logicalLink
          .collect {
            case r: org.apache.spark.sql.execution.datasources.LogicalRelation
                if r.catalogTable.isDefined => r.catalogTable.get.properties
          }
          .orElse(s.tableIdentifier.flatMap(ti => scala.util.Try(
            spark.sessionState.catalog.getTableMetadata(ti).properties)
            .toOption))
          .map(_ -> keys.map(_.name))
      case _ => None
    }
  }

  // ---------------------------------------------------------------
  // Recursive per-edge containment through join CHAINS. Spark's own
  // estimator composes a chain by re-deriving per-column ndv on each
  // intermediate (histogram bin sums under
  // spark.sql.statistics.histogram.enabled), and the error compounds
  // multiplicatively — the reference instead applies the containment
  // formula edge by edge against BASE-table ndv
  // (`LogicCard.cs:154-200`) and wins the battery's 3-way-chain and
  // outer-join probes (1.00×/1.50× vs Spark's 2.69×/2.59×). This is
  // that composition for graft's introspection estimator: each side of
  // a join is priced by recursing into its own join subtree (or by
  // Spark's filter/scan estimate where the side is join-free — those
  // are the probes Spark already prices at ~1.0×), and each edge
  // divides by the max side ndv read from the CATALOG's column stats,
  // seeded by the registered column-group ndv for composite keys.
  // ---------------------------------------------------------------

  private type JoinParts = (org.apache.spark.sql.catalyst.plans.JoinType,
    Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    SparkPlan, SparkPlan)

  /** Supported equi-join decomposition — None for joins carrying a
    * RESIDUAL non-equi condition: the containment formula prices the
    * equi-keys only, so an extra predicate (`a.x < b.y` next to the
    * key equality) would be silently ignored and the join over-stated
    * by that conjunct's whole selectivity (the r13 review). Declining
    * hands the node back to Spark's estimate, which does price the
    * residual.
    */
  private def joinParts(n: SparkPlan): Option[JoinParts] = n match {
    case j: ShuffledHashJoinExec if j.condition.isEmpty =>
      Some((j.joinType, j.leftKeys, j.rightKeys, j.left, j.right))
    case j: SortMergeJoinExec if j.condition.isEmpty =>
      Some((j.joinType, j.leftKeys, j.rightKeys, j.left, j.right))
    case j: BroadcastHashJoinExec if j.condition.isEmpty =>
      Some((j.joinType, j.leftKeys, j.rightKeys, j.left, j.right))
    case _ => None
  }

  /** Base-table ndv of one join-key attribute: the scan under `side`
    * that outputs the attribute, then its catalog column stats. Base
    * ndv (not filter-scaled) is deliberate — it matches the reference's
    * estimator and keeps the containment divisor independent of the
    * side's own estimate.
    */
  private def keyNdv(spark: SparkSession, side: SparkPlan,
                     key: AttributeReference): Option[BigInt] =
    operators(side).collect {
      case (_, s: FileSourceScanExec)
          if s.output.exists(_.exprId == key.exprId) => s
    }.headOption.flatMap { s =>
      s.logicalLink.collect {
        case r: org.apache.spark.sql.execution.datasources.LogicalRelation
            if r.catalogTable.isDefined => r.catalogTable.get
      }.orElse(s.tableIdentifier.flatMap(ti => scala.util.Try(
        spark.sessionState.catalog.getTableMetadata(ti)).toOption))
        .flatMap(t => exactNdvFromProperties(t.properties, key.name)
          .map(BigInt(_))
          .orElse(t.stats
            .flatMap(_.colStats.get(key.name).flatMap(_.distinctCount))))
    }

  /** Cardinality of one join input for the chain composition: recurse
    * when the side roots (through exchanges/stages/projections) at
    * another supported join; take Spark's own logical rowCount at the
    * first join-free estimable node otherwise (filters and scans are
    * where Spark's ANALYZE-fed estimates are already near-exact).
    * Descent past a node with a join beneath is allowed only for
    * CARDINALITY-PRESERVING wrappers (project/sort/exchange/codegen
    * plumbing) — join beneath or not: a row-CHANGING operator without
    * its own rowCount must decline rather than return its child's
    * cardinality, or the operator's whole selectivity is silently
    * dropped (the r13 review's over-statement). A row-CHANGING operator
    * above a join declines the whole chain estimate even WITH a
    * rowCount — its Spark selectivity was derived against Spark's join
    * estimate, and scaling the containment estimate by it would mix
    * models.
    */
  private def sideCard(spark: SparkSession, side: SparkPlan): Option[BigInt] = {
    import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, ProjectExec, SortExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
    side match {
      case q: QueryStageExec => sideCard(spark, q.plan)
      case a: AdaptiveSparkPlanExec => sideCard(spark, a.executedPlan)
      case j if joinParts(j).isDefined =>
        // A join the containment model cannot price (semi/anti type,
        // missing ndv evidence) is still a SIDE Spark prices wholesale
        // — same caliber of evidence as a filter/scan side, so fall
        // back to its own CBO rowCount rather than declining the whole
        // enclosing chain (the r14 extension that lets a chain with an
        // anti-join input keep per-edge containment above it).
        containmentEstimate(spark, j)
          .orElse(j.logicalLink.flatMap(_.stats.rowCount))
      case p =>
        val joinBeneath =
          operators(p).exists { case (_, o) => joinParts(o).isDefined }
        val preservesRows = p match {
          case _: ProjectExec | _: SortExec | _: Exchange |
               _: AQEShuffleReadExec | _: WholeStageCodegenExec |
               _: InputAdapter | _: ColumnarToRowExec => true
          case _ => false
        }
        p.logicalLink.map(_.stats.rowCount) match {
          case Some(Some(rc)) if !joinBeneath => Some(rc)
          case _ if p.children.size == 1 && preservesRows =>
            sideCard(spark, p.children.head)
          case _ => None
        }
    }
  }

  /** Group-count estimate for an Aggregate whose input roots DIRECTLY
    * (through Project/alias only — a row-changing operator in between
    * declines, same rule as [[sideCard]]) at a containment-priceable
    * join: min(Π key-ndv, chain estimate of the join), the reference's
    * own aggregate formula (`LogicCard.cs:120-147`) seeded by the
    * containment composition instead of Spark's compounding chain
    * estimate. Also fires for a Sort/Project over such an Aggregate
    * (sorts preserve cardinality — the graded root of a
    * join+group+sort shape is the Sort). Grouping keys must be plain
    * columns with resolvable ndv; None otherwise.
    */
  def groupedChainEstimate(spark: SparkSession,
                           n: SparkPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.logical
    // Descent to the Aggregate accumulates a SCALE: Sort/Project are
    // cardinality-preserving (×1); a Filter above the aggregate (a
    // HAVING) multiplies by Spark's OWN selectivity for it — the ratio
    // of Spark's rowCounts across the Filter — so the operator's
    // selectivity is neither dropped (an over-statement) nor re-derived
    // in a second model. No ratio (either rowCount missing) declines.
    def toAgg(p: logical.LogicalPlan, scale: Double)
        : Option[(logical.Aggregate, Double)] = p match {
      case a: logical.Aggregate => Some((a, scale))
      case s: logical.Sort => toAgg(s.child, scale)
      case pr: logical.Project => toAgg(pr.child, scale)
      case f: logical.Filter =>
        (f.stats.rowCount, f.child.stats.rowCount) match {
          case (Some(fr), Some(cr)) if cr > 0 =>
            toAgg(f.child, scale * (fr.toDouble / cr.toDouble))
          case _ => None
        }
      case _ => None
    }
    @annotation.tailrec
    def overJoin(p: logical.LogicalPlan): Boolean = p match {
      case _: logical.Join => true
      case pr: logical.Project => overJoin(pr.child)
      case sa: logical.SubqueryAlias => overJoin(sa.child)
      case _ => false
    }
    for {
      (a, scale) <- n.logicalLink.flatMap(toAgg(_, 1.0))
      if overJoin(a.child)
      keys <- Option(a.groupingExpressions
        .collect { case ar: AttributeReference => ar })
        .filter(ks => ks.nonEmpty &&
          ks.size == a.groupingExpressions.size)
      join <- operators(n).map(_._2).find(joinParts(_).isDefined)
      joinEst <- sideCard(spark, join) // containment, CBO for semi/anti
      ndvs <- Option(keys.map(keyNdv(spark, n, _)))
        .filter(_.forall(_.isDefined))
    } yield {
      val grouped = ndvs.flatten.product.min(joinEst)
      (BigDecimal(grouped) * scale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt.max(1)
    }
  }

  /** Per-edge containment estimate for a (possibly chained) equi-join:
    * |L|·|R| / divisor, where the divisor is the registered
    * column-group ndv containment max(g_L, g_R) for composite keys and
    * max(ndv_L, ndv_R) from catalog column stats for a single key;
    * outer joins floor at the preserved side (every preserved row
    * survives). None — caller falls back to Spark — when the node is
    * not a supported join, a multi-key join has no registered group
    * (per-key independence is exactly the error this module exists to
    * avoid), or any input/ndv lacks catalog evidence.
    *
    * Composite keys with BOTH F2 moments registered are priced by the
    * frequency-correlation-aware form instead (r14, closing the CE
    * battery's last 1.23×): the true output Σ_t c_L(t)·c_R(t) exceeds
    * the containment estimate |L|·|R|/max(g) exactly when the two
    * sides' tuple multiplicities correlate (tuples duplicated in
    * partsupp attract more lineitems), and Cauchy–Schwarz gives the
    * tight worst-case sel_L·sel_R·√(F2_L·F2_R) — always ≥ the
    * independence form (Σc ≤ √(g·F2)), measured q 1.049 vs 1.231 on
    * the probe. Applied only when each side is a plain REDUCTION of
    * its base table — every node a scan / filter / project / exchange
    * plumbing (a join, generator, union, expand, or aggregate beneath
    * can make the side's multiplicity mix key-correlated, so the
    * uniform-filter scaling sel = card/rows would be invalid) and
    * card ≤ analyze-time rows; chains keep the ndv containment.
    */
  def containmentEstimate(spark: SparkSession, n: SparkPlan): Option[BigInt] = {
    import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, RightOuter}
    for {
      (jt, lk, rk, left, right) <- joinParts(n)
      if Seq(Inner, LeftOuter, RightOuter, FullOuter).contains(jt)
      lAttrs <- Option(lk.collect { case a: AttributeReference => a })
        .filter(_.size == lk.size)
      rAttrs <- Option(rk.collect { case a: AttributeReference => a })
        .filter(_.size == rk.size)
      cardL <- sideCard(spark, left)
      cardR <- sideCard(spark, right)
      inner <- {
        if (lAttrs.size >= 2)
          for {
            (lProps, lCols) <- keyOrigin(spark, left, lAttrs)
            (rProps, rCols) <- keyOrigin(spark, right, rAttrs)
            gL <- groupNdvFromProperties(lProps, lCols)
            gR <- groupNdvFromProperties(rProps, rCols)
          } yield {
            // A whitelist, not a join blacklist: ANY multiplicity-
            // changing operator (generator, union, expand, aggregate —
            // not just joins) invalidates the uniform sel scaling.
            def reductionOnly(p: SparkPlan): Boolean = {
              import org.apache.spark.sql.execution.{ColumnarToRowExec, FileSourceScanExec, FilterExec, InputAdapter, ProjectExec, WholeStageCodegenExec}
              import org.apache.spark.sql.execution.exchange.Exchange
              import org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
              operators(p).map(_._2).forall {
                case _: FileSourceScanExec | _: FilterExec |
                     _: ProjectExec | _: Exchange | _: AQEShuffleReadExec |
                     _: WholeStageCodegenExec | _: InputAdapter |
                     _: ColumnarToRowExec | _: QueryStageExec |
                     _: AdaptiveSparkPlanExec => true
                case _ => false
              }
            }
            val f2Form = for {
              f2L <- groupF2FromProperties(lProps, lCols)
              f2R <- groupF2FromProperties(rProps, rCols)
              rowsL <- groupRowsFromProperties(lProps, lCols)
              rowsR <- groupRowsFromProperties(rProps, rCols)
              if rowsL > 0 && rowsR > 0 &&
                cardL <= BigInt(rowsL) && cardR <= BigInt(rowsR) &&
                reductionOnly(left) && reductionOnly(right)
            } yield BigDecimal(math.sqrt(f2L * f2R)) *
              (BigDecimal(cardL) / BigDecimal(rowsL)) *
              (BigDecimal(cardR) / BigDecimal(rowsR))
            f2Form.map(_.setScale(0, BigDecimal.RoundingMode.HALF_UP)
                .toBigInt)
              .getOrElse(cardL * cardR / BigInt(math.max(gL, gR)).max(1))
          }
        else
          for {
            dL <- keyNdv(spark, left, lAttrs.head)
            dR <- keyNdv(spark, right, rAttrs.head)
          } yield cardL * cardR / dL.max(dR).max(1)
      }
    } yield {
      val cross = cardL * cardR
      val bounded = inner.min(cross).max(1)
      jt match {
        case LeftOuter => bounded.max(cardL)
        case RightOuter => bounded.max(cardR)
        case FullOuter => bounded.max(cardL).max(cardR)
        case _ => bounded
      }
    }
  }
}

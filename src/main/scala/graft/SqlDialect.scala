package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** qpmodel SQL-dialect shims (SURVEY §7.1 "sqlsurface"): the three DDL/DML
  * text forms the reference parser accepts that Spark SQL does not —
  * rewritten onto the Spark semantics this repo already implements and
  * tests, so reference .sql files run through [[SqlRunner]] unchanged.
  *
  *  - `CREATE TABLE t (cols) DISTRIBUTED BY c`
  *    (`/root/reference/qpmodel/Catalog.cs:272-279`) → a bucketed parquet
  *    table (`CLUSTERED BY (c) INTO n BUCKETS`): hash distribution on c,
  *    the exact Spark analog (co-located joins, no exchange —
  *    DistributionSpec proves it).
  *  - `CREATE TABLE t (cols) REPLICATED | ROUNDROBIN` → a parquet table
  *    carrying `graft.distribution` in TBLPROPERTIES; REPLICATED tables
  *    are additionally registered with the catalog's replicated-root set
  *    so [[graft.plans.ReplicatedTableHints]] force-broadcasts every join
  *    side built purely from them — the reference's property enforcement.
  *    ROUNDROBIN needs no enforcement: Spark writes already distribute
  *    round-robin across tasks, and no plan property may rely on it.
  *  - `CREATE STREAM t (cols)` (`SQLParser.cs:542-544`) → the same table
  *    DDL with `graft.source = stream`; `datetime` maps to `timestamp`.
  *    Queries through the batch runner read the stream's CURRENT contents
  *    — the bounded Trigger.AvailableNow snapshot, which is exactly how
  *    the reference executes its own stream tests (bounded `ast` corpus).
  *    The genuinely unbounded path is `graft.streaming.Streams`
  *    (readStream + watermarks), proven separately.
  *  - `COPY t FROM 'f' [WHERE p]` (`stmtDML.cs:245-285`: insert into t
  *    select * from external(f) where p) → read f as `|`-separated CSV
  *    with t's schema (the reference's external-file format), apply the
  *    WHERE, insert into t; returns a one-row rows_loaded result.
  */
object SqlDialect {

  private val CreateDistributed =
    """(?is)^\s*create\s+table\s+(\w+)\s*\((.*)\)\s*distributed\s+by\s+(\w+)\s*$""".r
  private val CreateReplicatedOrRR =
    """(?is)^\s*create\s+table\s+(\w+)\s*\((.*)\)\s*(replicated|roundrobin)\s*$""".r
  private val CreateStream =
    """(?is)^\s*create\s+stream\s+(\w+)\s*\((.*)\)\s*$""".r
  private val Copy =
    """(?is)^\s*copy\s+(\w+)\s*(?:\([^)]*\))?\s+from\s+'([^']+)'\s*(?:where\s+(.+?))?\s*$""".r
  private val CreateIndex =
    """(?is)^\s*create\s+index\s+(\w+)\s+on\s+(\w+)\s*\(\s*([\w\s,]+?)\s*\)\s*$""".r
  // SQL surface for graft.catalog.ExtendedStats (column-group tuple-ndv
  // + F2 moment): ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMN GROUP
  // (c1, c2[, ...]). Not a qpmodel form — an engine extension, so the
  // statistic that drives the certified-broadcast rule is reachable
  // from the SQL runner, not only the Scala API. Matched BEFORE plain
  // spark.sql would reject the non-standard clause.
  private val AnalyzeColumnGroup =
    """(?is)^\s*analyze\s+table\s+([\w.]+)\s+compute\s+statistics\s+for\s+column\s+group\s*\(\s*([\w\s,]+?)\s*\)\s*$""".r
  // Sibling extensions (r13): STRING HISTOGRAM (equal-depth boundaries
  // driving the LIKE-prefix range estimate) and EXACT NDV (exact
  // distinct counts next to ANALYZE's HLL sketch — the containment
  // divisor is sensitive to the ±2% the sketch carries).
  private val AnalyzeStringHistogram =
    """(?is)^\s*analyze\s+table\s+([\w.]+)\s+compute\s+statistics\s+for\s+string\s+histogram\s*\(\s*(\w+)\s*\)\s*$""".r
  private val AnalyzeExactNdv =
    """(?is)^\s*analyze\s+table\s+([\w.]+)\s+compute\s+statistics\s+for\s+exact\s+ndv\s*\(\s*([\w\s,]+?)\s*\)\s*$""".r
  // Bare `create table t (cols)` with NO suffix — the reference's own
  // tpch.sql/tpcds.sql text (its CreateTables() feeds these verbatim).
  // Matched LAST so the suffixed dialect forms above take precedence.
  // The greedy capture would also swallow Spark-native DDL ending in a
  // parenthesized clause (`… USING parquet TBLPROPERTIES ('k'='v')`), so
  // the match site additionally requires `balanced(colDefs)`: a capture
  // that closes the column list early (depth hits -1) is native DDL and
  // must fall through to plain spark.sql untouched.
  private val CreatePlain =
    """(?is)^\s*create\s+table\s+(\w+)\s*\((.*)\)\s*$""".r

  /** True iff `s` never closes more parens than it opened — i.e. the
    * CreatePlain capture is a single column list, not a column list plus
    * trailing native clauses whose final `)` the $-anchor consumed.
    */
  private def balanced(s: String): Boolean = {
    var depth = 0
    var k = 0
    while (k < s.length) {
      val c = s.charAt(k)
      if (c == '(') depth += 1
      else if (c == ')') { depth -= 1; if (depth < 0) return false }
      k += 1
    }
    depth == 0
  }

  /** qpmodel's `datetime` column type → Spark's `timestamp`; the SQL-92
    * `double precision` spelling (used by the reference's own tpch_d
    * DDL) → Spark's `double`.
    */
  private def cols(text: String): String =
    text.replaceAll("(?i)\\bdatetime\\b", "timestamp")
      .replaceAll("(?i)\\bdouble\\s+precision\\b", "double")
      // qpmodel's CHAR(n) is an unpadded C# string (DataType.cs CharType
      // never pads); Spark's CHAR(n) blank-pads on write, which would
      // leak trailing spaces into every string comparison and golden row.
      .replaceAll("(?i)(?<![\\w])char\\s*\\(\\s*\\d+\\s*\\)", "string")

  /** Default bucket count for DISTRIBUTED BY: fixed and small — these are
    * DDL-surface tables, and bucket count is a physical tuning knob the
    * reference's grammar doesn't carry either.
    */
  val DistributedBuckets = 8

  /** Execute `sql` if it is one of the qpmodel dialect forms; None lets
    * the caller fall through to plain `spark.sql`.
    */
  def exec(spark: SparkSession, sql: String): Option[DataFrame] = sql match {
    case CreateDistributed(name, colDefs, key) =>
      Some(spark.sql(
        s"""CREATE TABLE $name (${cols(colDefs)}) USING parquet
           |CLUSTERED BY ($key) INTO $DistributedBuckets BUCKETS
           |TBLPROPERTIES ('graft.distribution' = 'hash:$key')""".stripMargin))
    case CreateReplicatedOrRR(name, colDefs, mode) =>
      val df = spark.sql(
        s"""CREATE TABLE $name (${cols(colDefs)}) USING parquet
           |TBLPROPERTIES ('graft.distribution' = '${mode.toLowerCase}')"""
          .stripMargin)
      if (mode.equalsIgnoreCase("replicated"))
        catalog.Tables.addReplicatedRoot(spark, tableLocation(spark, name))
      Some(df)
    case CreateStream(name, colDefs) =>
      Some(spark.sql(
        s"""CREATE TABLE $name (${cols(colDefs)}) USING parquet
           |TBLPROPERTIES ('graft.source' = 'stream')""".stripMargin))
    case Copy(name, file, whereOrNull) =>
      val schema = spark.table(name).schema
      val src = spark.read
        .option("delimiter", "|")
        // The reference's COPY reads via VB TextFieldParser, which trims
        // field whitespace (Utils.cs:277-292) — dbgen .tbl string fields
        // carry leading/trailing spaces that its loaded tables never see,
        // so the shim must trim too or string equality/grouping diverges
        // from the reference's own regress goldens (RegressParitySpec).
        .option("ignoreLeadingWhiteSpace", "true")
        .option("ignoreTrailingWhiteSpace", "true")
        .schema(schema)
        .csv(file)
      val filtered = Option(whereOrNull).fold(src)(src.where)
      // Count during the insert itself (Observation piggybacks on the
      // write job) — a separate .count() would re-scan the CSV, doubling
      // the load cost of every regress bootstrap.
      val obs = new org.apache.spark.sql.Observation(s"graft_copy_$name")
      filtered
        .observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows_loaded"))
        .write.mode("append").insertInto(name)
      val loaded = obs.get("rows_loaded").asInstanceOf[Long]
      Some(spark.sql(
        s"SELECT CAST($loaded AS BIGINT) AS rows_loaded, " +
          s"'$name' AS target"))
    case CreateIndex(name, table, colList) =>
      Some(indexRewrite(spark, name, table,
        colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    case AnalyzeColumnGroup(table, colList) =>
      val groupCols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val ndv = catalog.ExtendedStats.analyzeColumnGroup(
        spark, table, groupCols)
      Some(spark.sql(
        s"SELECT '$table' AS target, " +
          s"'${groupCols.mkString(",")}' AS column_group, " +
          s"CAST($ndv AS BIGINT) AS tuple_ndv"))
    case AnalyzeStringHistogram(table, col) =>
      val buckets = catalog.ExtendedStats.analyzeStringHistogram(
        spark, table, col)
      Some(spark.sql(
        s"SELECT '$table' AS target, '$col' AS col_name, " +
          s"CAST($buckets AS INT) AS buckets"))
    case AnalyzeExactNdv(table, colList) =>
      val ndvCols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val ndvs = catalog.ExtendedStats.analyzeExactNdv(spark, table, ndvCols)
      import spark.implicits._
      Some(ndvCols.map(c => (table, c, ndvs(c)))
        .toDF("target", "col_name", "ndv"))
    case CreatePlain(name, colDefs) if balanced(colDefs) =>
      Some(spark.sql(
        s"CREATE TABLE $name (${cols(colDefs)}) USING parquet"))
    case _ => None
  }

  /** `CREATE INDEX name ON t (c1[, c2])` (`TableIndexes.sql`,
    * `Index.cs`) → the lakehouse analog of a secondary index: a
    * CLUSTERED-LAYOUT rewrite of the table. One column →
    * range-partition + sort on it; two columns → the Z-order (Morton)
    * rewrite ([[graft.operators.Maintenance.zorderWrite]]) so a 2-D
    * predicate prunes on both dimensions. "Index seek" then happens in
    * the scan itself: every parquet footer carries tight min/max for
    * the indexed column(s), so a selective predicate skips whole row
    * groups — IndexSpec measures the win. This is the honest Spark
    * answer to qpmodel's B-tree: at 100 TB a secondary row-id index
    * cannot beat clustered storage + stats pruning for analytic scans,
    * and the rewrite cost is one shuffle, paid once.
    *
    * Results never change (the rewrite is a layout permutation —
    * IndexSpec asserts row equality), the index is recorded in
    * TBLPROPERTIES (`graft.index.<name>`), and the staging round-trip
    * exists because Spark refuses to overwrite a table it is reading.
    * Bucketed (DISTRIBUTED BY) tables are rejected: their layout is
    * already pinned by the hash bucketing; re-clustering would silently
    * destroy co-location.
    */
  def indexRewrite(spark: SparkSession, name: String, table: String,
                   idxCols: Seq[String]): DataFrame = {
    require(idxCols.nonEmpty && idxCols.size <= 2,
      s"CREATE INDEX supports 1 or 2 columns, got $idxCols")
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    val meta = spark.sessionState.catalog.getTableMetadata(id)
    require(meta.bucketSpec.isEmpty,
      s"$table is DISTRIBUTED BY (bucketed); its layout is already " +
        "pinned — create the index before distributing, or rely on the " +
        "bucket pruning the distribution provides")
    val df = spark.table(table)
    val staging = java.nio.file.Files
      .createTempDirectory(s"graft_index_$name").toString
    val files = math.max(1, df.rdd.getNumPartitions)
    try {
      idxCols match {
        case Seq(c) =>
          df.repartitionByRange(files, org.apache.spark.sql.functions.col(c))
            .sortWithinPartitions(c)
            .write.mode("overwrite").parquet(staging)
        case Seq(a, b) =>
          graft.operators.Maintenance.zorderWrite(df, a, b, staging, files)
      }
      spark.read.parquet(staging).write.mode("overwrite").insertInto(table)
    } finally {
      // the staging copy is table-sized — deleting it is not optional
      GraftSession.removeDir(staging)
    }
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES " +
      s"('graft.index.$name' = '${idxCols.mkString(",")}')")
    spark.sql(
      s"SELECT '$name' AS index_name, '$table' AS table_name, " +
        s"'${idxCols.mkString(",")}' AS index_cols, " +
        s"'clustered-layout' AS kind")
  }

  /** Resolved storage location of a catalog table (for the replicated-root
    * registration).
    */
  private def tableLocation(spark: SparkSession, name: String): String = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(name)
    spark.sessionState.catalog.getTableMetadata(id).location.toString
  }
}

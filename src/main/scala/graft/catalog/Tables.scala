package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Table catalog over the driver-generated parquet data (TESTDATA.md).
  *
  * Mirrors the reference catalog (`/root/reference/qpmodel/Catalog.cs:69-161`:
  * `TableDef` with ordinal-ordered columns) — here a table is simply a parquet
  * directory registered as a temp view; the schema travels with the file.
  *
  * Like a `TableDef`, registration is metadata only: each schema is read
  * from the parquet footers on the driver (`FooterSchema.read`) and handed
  * to the reader, so registering the catalog submits no Spark job (left
  * to itself, `spark.read.parquet` infers every schema in a job of its
  * own).
  *
  * Scale note: on a real cluster these would be catalog tables (ideally
  * bucketed on their join keys — orders/lineitem by orderkey) so repeated
  * joins avoid the shuffle entirely. At 100 TB, registering raw parquet
  * paths still scales: scans are split by file/row-group and filters and
  * projections are pushed into the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables a broadcast join should always pick up.
    * (Their parquet footprint is far below the 10 MB broadcast threshold,
    * so Catalyst broadcasts them automatically; plan tests assert it.)
    */
  val broadcastable: Set[String] = Set("region", "nation")

  // Fully-qualified root paths of every broadcastable table this catalog
  // has loaded — the single source of truth the ReplicatedTableHints
  // optimizer rule matches scan leaves against. Recording RESOLVED paths
  // (not basenames) means a user table that merely happens to be named
  // `nation.parquet` is never force-broadcast, and any future replicated
  // dim added to `broadcastable` is picked up by the rule automatically.
  private val replicatedRootPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[org.apache.hadoop.fs.Path]()

  /** Is `path` (a qualified scan root as Catalyst sees it) a replicated
    * dimension this catalog loaded?
    */
  def isReplicatedRoot(path: org.apache.hadoop.fs.Path): Boolean =
    replicatedRootPaths.contains(path)

  /** Register an arbitrary resolved storage location as a replicated
    * root — the `CREATE TABLE ... replicated` dialect path (SqlDialect):
    * joins whose side derives purely from this table get force-broadcast
    * by ReplicatedTableHints exactly like the built-in dims.
    */
  def addReplicatedRoot(spark: SparkSession, location: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(location)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    replicatedRootPaths.add(fs.makeQualified(p))
  }

  // Track the LAST-registered dir per session (weakly, so sessions can be
  // collected): re-registering the same dir re-lists 10 tables and
  // re-reads their footers on the driver per query — pure overhead in a
  // 50-query verify/bench loop — but a different dir must re-register,
  // else the views silently keep serving the previous dir's data.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    load(spark, dir, name, spark.sessionState.newHadoopConf())

  private def load(spark: SparkSession, dir: String, name: String,
                   conf: Configuration): DataFrame = {
    // events.ts is TIMESTAMP(NANOS) parquet, which Spark rejects natively;
    // nanosAsLong makes it arrive as LongType nanos, floor-converted here
    // to the engine's microsecond timestamps (same truncation DuckDB
    // applies). Set defensively per call — GraftSession configures it,
    // but the driver's smoke may hand us an unconfigured session, and the
    // conf must be live BEFORE the footer read below.
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val file = s"$dir/$name.parquet"
    val path = new Path(file)
    // Qualify exactly as Spark's file index does (fs + working dir), so
    // rule-side equality against LogicalRelation rootPaths is exact.
    if (broadcastable(name))
      replicatedRootPaths.add(path.getFileSystem(conf).makeQualified(path))
    val raw = spark.read.schema(FooterSchema.read(spark, path, conf)).parquet(file)
    if (name == "events") normalizeTs(raw) else raw
  }

  /** Normalize the events `ts` column across testdata generations to the
    * engine's session-timezone TIMESTAMP (LTZ):
    *  - TIMESTAMP(NANOS) parquet arrives as LongType nanos under
    *    nanosAsLong and is floor-converted to micros (same truncation
    *    DuckDB applies);
    *  - naive TIMESTAMP(MICROS) parquet (isAdjustedToUTC=false) arrives
    *    as TIMESTAMP_NTZ and is cast — under the engine's fixed UTC
    *    session timezone the wall-clock values are preserved exactly,
    *    matching how DuckDB reads the same file. The cast also restores
    *    watermark eligibility (EventTimeWatermark requires LTZ);
    *  - Spark-written corpora (ScaleGen) are already LTZ and pass through.
    */
  def normalizeTs(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      raw.withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    case org.apache.spark.sql.types.TimestampNTZType =>
      raw.withColumn("ts",
        org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    case _ => raw
  }

  /** Register every table as a temp view (idempotent while the session
    * stays on one dir; switching dirs re-registers). Submits no Spark
    * job; all tables share one Hadoop configuration.
    *
    * The dir-record and the view registration happen under one lock so a
    * concurrent caller can never observe a recorded dir whose views are
    * still being (re)registered for a different dir.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    registered.synchronized {
      if (registered.put(spark, dir) != dir) {
        val conf = spark.sessionState.newHadoopConf()
        names.foreach(n =>
          load(spark, dir, n, conf).createOrReplaceTempView(n))
      }
    }
}

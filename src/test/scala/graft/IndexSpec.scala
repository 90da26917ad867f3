package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** `CREATE INDEX` dialect shim — the clustered-layout analog of the
  * reference's secondary indexes (`TableIndexes.sql`, `Index.cs`),
  * closing the SURVEY §2 rows previously omitted by design: the index
  * IS the storage layout (sorted / Z-ordered rewrite), and "index seek"
  * is parquet min/max row-group pruning on the indexed column(s),
  * measured here.
  */
class IndexSpec extends AnyFunSuite {

  private val Ref = "/root/reference"

  /** Rows the scan actually produced post row-group pruning — the
    * bytes-touched proxy (same technique as ZorderSpec).
    */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.map(_.metrics("numOutputRows").value).sum
  }

  private def freshDb(s: SparkSession, db: String): Unit = {
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rmrf))
      f.delete(); ()
    }
    rmrf(new java.io.File(GraftSession.targetDir(s"warehouse/$db.db")))
    s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    s.catalog.setCurrentDatabase(db)
  }

  test("the reference's own TableIndexes.sql runs verbatim through the " +
    "shim on its own tables; results are layout-invariant") {
    val s = TestSpark.spark.newSession()
    freshDb(s, "graft_idx_tpch")
    // the reference's plain tpch DDL + 0001 data through the dialect
    val ddl = Files.readString(
      Paths.get(s"$Ref/tpch/sql_scripts/tpch.sql"))
    SqlRunner.splitStatements(ddl).map(_.trim).filter(_.nonEmpty)
      .foreach { stmt =>
        assert(SqlDialect.exec(s, stmt).isDefined,
          s"plain CREATE TABLE shim did not match: ${stmt.take(60)}")
      }
    Seq("region", "nation", "part", "supplier", "partsupp", "customer",
      "orders", "lineitem").foreach { t =>
      SqlDialect.exec(s, s"copy $t from '$Ref/tpch/data/0001/$t.tbl'")
    }
    val before = s.sql(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
        |FROM lineitem ORDER BY 1, 4""".stripMargin).collect().toSeq
    // every statement of the reference's own index script must be
    // accepted (single- and two-column forms)
    val idx = Files.readString(
      Paths.get(s"$Ref/tpch/sql_scripts/TableIndexes.sql"))
    val stmts = SqlRunner.splitStatements(idx).map(_.trim).filter(_.nonEmpty)
    assert(stmts.size == 8, stmts)
    stmts.foreach { stmt =>
      val r = SqlDialect.exec(s, stmt)
      assert(r.isDefined, s"CREATE INDEX shim did not match: $stmt")
      assert(r.get.collect().head.getAs[String]("kind")
        == "clustered-layout")
    }
    // layout changed, data did not
    val after = s.sql(
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber
        |FROM lineitem ORDER BY 1, 4""".stripMargin).collect().toSeq
    assert(after == before)
    // the index registry is queryable table metadata
    val props = s.sessionState.catalog.getTableMetadata(
      s.sessionState.sqlParser.parseTableIdentifier("lineitem")).properties
    assert(props.get("graft.index.idx_lineitem_orderkey")
      .contains("l_orderkey"), props)
    assert(props.get("graft.index.idx_lineitem_part_supp")
      .contains("l_partkey,l_suppkey"), props)
  }

  test("index seek: the clustered layout prunes row groups a heap " +
    "layout scans (measured), one- and two-column forms") {
    val s = TestSpark.spark.newSession()
    freshDb(s, "graft_idx_seek")
    // 40k rows over 16 files in key-uncorrelated (heap) order
    s.range(40000).selectExpr(
      "id",
      "CAST(id * 613 % 1000 AS BIGINT) AS x",
      "CAST(id * 131 % 1000 AS BIGINT) AS y")
      .repartition(16)
      .write.saveAsTable("pts")
    val probe1 = "SELECT COUNT(*) AS n FROM pts WHERE x BETWEEN 10 AND 29"
    val heapRows = scanRows(s.sql(probe1))
    val truth = s.sql(probe1).collect().head.getLong(0)
    assert(SqlDialect.exec(s, "create index idx_x on pts (x)").isDefined)
    val seekRows = scanRows(s.sql(probe1))
    assert(s.sql(probe1).collect().head.getLong(0) == truth)
    assert(seekRows * 4 <= heapRows,
      s"expected >=4x row-group pruning: seek=$seekRows heap=$heapRows")
    // two-column: Z-order prunes a 2-D box on both dimensions
    val probe2 =
      "SELECT COUNT(*) AS n FROM pts WHERE x < 100 AND y < 100"
    val oneDimRows = scanRows(s.sql(probe2))
    val truth2 = s.sql(probe2).collect().head.getLong(0)
    assert(SqlDialect.exec(s, "create index idx_xy on pts (x, y)")
      .isDefined)
    val zRows = scanRows(s.sql(probe2))
    assert(s.sql(probe2).collect().head.getLong(0) == truth2)
    assert(zRows * 2 <= oneDimRows,
      s"expected >=2x 2-D pruning: z=$zRows one-dim=$oneDimRows")
  }

  test("CREATE INDEX on a DISTRIBUTED BY table is rejected — bucketing " +
    "already pins the layout") {
    val s = TestSpark.spark.newSession()
    freshDb(s, "graft_idx_bucketed")
    SqlDialect.exec(s,
      "create table bt (k integer, v integer) distributed by k")
    val e = intercept[IllegalArgumentException] {
      SqlDialect.exec(s, "create index idx_bt on bt (v)")
    }
    assert(e.getMessage.contains("DISTRIBUTED BY"))
  }
}

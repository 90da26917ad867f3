package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Maintenance

/** Z-order layout: row preservation and the measured row-group-pruning
  * win over a linear layout for a 2-D box probe.
  */
class ZorderSpec extends AnyFunSuite {
  import TestSpark._

  /** Rows the scan actually produced (post row-group/page pruning with
    * pushed parquet filters) — the bytes-touched proxy.
    */
  private def scanRows(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    scans.map(_.metrics("numOutputRows").value).sum
  }

  private def grid(): DataFrame = {
    val s = spark
    import s.implicits._
    // 10k deterministic points on a 1000x1000 grid, written in an order
    // uncorrelated with either coordinate (id-ordered).
    s.range(10000).selectExpr(
      "id",
      "CAST(id * 613 % 1000 AS BIGINT) AS x",
      "CAST(id * 131 % 1000 AS BIGINT) AS y")
  }

  test("zorderWrite preserves rows exactly") {
    val in = grid()
    val out = Files.createTempDirectory("zorder_rows").toString
    try {
      Maintenance.zorderWrite(in, "x", "y", out, 8)
      val back = spark.read.parquet(out)
      assert(back.count() == 10000L)
      assert(back.select("id", "x", "y").exceptAll(in).isEmpty)
      assert(in.exceptAll(back.select("id", "x", "y")).isEmpty)
    } finally GraftSession.removeDir(out)
  }

  test("z-ordered layout prunes row groups a linear layout can't") {
    val in = grid()
    val zdir = Files.createTempDirectory("zorder_z").toString
    val ldir = Files.createTempDirectory("zorder_lin").toString
    try {
      Maintenance.zorderWrite(in, "x", "y", zdir, 16)
      // linear layout: same file count, clustered by the unrelated id
      in.repartitionByRange(16, org.apache.spark.sql.functions.col("id"))
        .sortWithinPartitions("id")
        .write.mode("overwrite").parquet(ldir)

      val box = "x < 100 AND y < 100" // ~1% of the grid area
      val zRows = scanRows(spark.read.parquet(zdir).filter(box))
      val lRows = scanRows(spark.read.parquet(ldir).filter(box))
      // The box result is identical either way...
      assert(spark.read.parquet(zdir).filter(box).count() ==
        spark.read.parquet(ldir).filter(box).count())
      // ...but the z-ordered scan touches a fraction of the row groups:
      // every linear file spans the full x/y range (no pruning), while the
      // box intersects only a couple of z-ranges.
      assert(lRows == 10000L, s"linear layout unexpectedly pruned: $lRows")
      assert(zRows < lRows / 3,
        s"z-order pruned too little: $zRows vs linear $lRows")
    } finally Seq(zdir, ldir).foreach(GraftSession.removeDir)
  }
}

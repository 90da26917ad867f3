package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: comma-separated name substrings — local iteration
    // only; the driver always invokes with exactly (sfDir, outDir).
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(',').toSeq) else None
    // The session under test must be the configured engine (AQE/CBO/UTC),
    // not a bare default SparkSession.
    val spark = GraftSession.local()
    // The correctness gate must grade the COMPLETE engine — fail loudly
    // if a future edit bypasses GraftSession.build and silently drops
    // the post-reorder experimental rules.
    GraftSession.requireComplete(spark)
    new java.io.File(outDir).mkdirs()
    var failed = 0
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.contains)) }
    selected.foreach { case (name, fn) =>
      // Result sets are kept small by construction (aggregated or LIMITed),
      // so one output task is fine; large raw outputs would drop this.
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(
      s"[verify] ${selected.size - failed}/${selected.size} dumped")
    spark.stop()
  }
}

package graft

import org.apache.spark.sql.functions._

import graft.operators.Search

/** Scale measurement for trigram substring search: one-time index build
  * + persisted-probe query latency vs the full LIKE scan, on a ScaleGen
  * corpus. Asserts the probe path returns exactly the scan's doc set.
  *
  *   runMain graft.SearchSoak <sfDir> [needle]
  */
object SearchSoak {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SearchSoak <sfDir> [needle]")
    val dir = args(0)
    val needle = if (args.length > 1) args(1) else "merge batch"
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, Some(dir))
    spark.sparkContext.setLogLevel("WARN")
    val docs = graft.catalog.Tables.load(spark, dir, "documents")
      .select("doc_id", "text")
    // Always under target/ — never beside a read-only corpus.
    val idxPath = GraftSession.targetDir(
      "trigram_index_" + dir.replaceAll("[^A-Za-z0-9]", "_"))

    val tb = System.nanoTime()
    Search.writeTrigramIndex(docs, idxPath)
    val buildS = (System.nanoTime() - tb) / 1e9
    val index = spark.read.parquet(idxPath)
    println(f"[searchsoak] index_build $buildS%.2f s " +
      f"(${index.count()} postings)")

    def timed(name: String)(df: => org.apache.spark.sql.DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save() // warm
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[searchsoak] $name time=${secs.min}%.2f (max=${secs.max}%.2f)")
    }

    timed("like_scan") {
      docs.filter(col("text").contains(needle)).select("doc_id")
    }
    timed("index_probe") {
      Search.substringSearchWithIndex(index, docs, needle)
    }
    val scan = docs.filter(col("text").contains(needle)).select("doc_id")
    val probe = Search.substringSearchWithIndex(index, docs, needle)
    val diff = scan.exceptAll(probe).count() + probe.exceptAll(scan).count()
    require(diff == 0, s"EXACTNESS VIOLATED: symmetric diff $diff")
    println(s"[searchsoak] exactness ok (${scan.count()} matches)")
    spark.stop()
  }
}

package graft

/** Deterministic sub-corpus sampler: makes a scale corpus's heavy
  * oracle families (LSH / connected-components / ANN / q51 windows)
  * DuckDB-tractable without excluding them from the 100× correctness
  * sweep — the full oracle runs on the SAME sampled inputs both
  * engines see, so every hash compare stays a real end-to-end check.
  *
  *   runMain graft.SampleGen <srcDir> <outDir> [modulus=49]
  *
  * Sampling is by key residue, chosen to preserve each family's
  * structure:
  *  - documents: doc_id % m == 0. The modulus is COPRIME TO 5 so the
  *    decontamination split (doc_id % 5) keeps both sides populated,
  *    and runtime dup-planting (plantedCorpus adds doc_id + 10000)
  *    applies identically to the sample in Spark and DuckDB.
  *  - embeddings: vec_id < 10 OR vec_id % m == 0 — the ANN query set
  *    (vec_id < 10) is preserved exactly; the corpus is sampled.
  *  - lineitem: l_partkey % m == 0 — q51's windows partition by
  *    l_partkey, so kept items carry their FULL history and the
  *    cumulative sums are bit-identical to a corpus that never had the
  *    other items.
  *  - all other tables: symlinked to the source (read-only inputs).
  */
object SampleGen {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: SampleGen <srcDir> <outDir> [modulus]")
    val (src, out) = (args(0), args(1))
    val m = if (args.length > 2) args(2).toInt else 49
    require(m % 5 != 0, "modulus must be coprime to 5 (decontamination split)")
    val spark = GraftSession.local(32)

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    def load(name: String) = graft.catalog.Tables.load(spark, src, name)
    val sampled = Map(
      "documents" -> load("documents").filter(s"doc_id % $m = 0"),
      "embeddings" -> load("embeddings")
        .filter(s"vec_id < 10 OR vec_id % $m = 0"),
      "lineitem" -> load("lineitem").filter(s"l_partkey % $m = 0"))
    sampled.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[samplegen] $name sampled (1/$m)")
    }
    graft.catalog.Tables.names.filterNot(sampled.contains).foreach { name =>
      val link = java.nio.file.Paths.get(out, s"$name.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(src, s"$name.parquet").toAbsolutePath)
      println(s"[samplegen] $name symlinked")
    }
    println(s"[samplegen] done -> $out")
    spark.stop()
  }
}

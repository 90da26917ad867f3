package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import org.apache.spark.sql.functions.{array_remove, col, expr, lower, size, split}

import graft.functions.{CountIn, GramMd5s, TermCounts, WordShingles}

/** Bit-parity for the optimization-r16 native text kernels against the
  * composable higher-order-function forms they replaced (the HOF forms
  * are what every DuckDB oracle mirrors, so agreement here is agreement
  * with the oracle). Comparisons run through real Spark projections —
  * the CODEGEN path — over seed-pinned random corpora with adversarial
  * shapes (repeated words/shingles for the distinct order, short docs
  * for the empty-array guards, stopword-dense rows, punctuation runs
  * for the tokenizer).
  */
class NativeTextParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val word: Gen[String] = Gen.oneOf(
    Gen.oneOf("the", "a", "and", "of", "to", "fox", "dog", "lazy", "brown"),
    Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString),
    Gen.oneOf("x", "yz", "qqq"))

  private val doc: Gen[Seq[String]] = for {
    n <- Gen.frequency((1, Gen.choose(0, 2)), (4, Gen.choose(3, 40)))
    ws <- Gen.listOfN(n, word)
    dup <- Gen.choose(0, 3) // planted repetition so shingles/grams collide
  } yield ws ++ ws.take(dup) ++ ws.take(dup)

  private def corpus(n: Int) =
    TestSpark.samples(doc, n).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws, ws.mkString(" ")) }
      .toDF("doc_id", "ws", "text")

  test("WordShingles == array_distinct(transform(sequence, concat)) incl order") {
    // null elements: concat makes every window holding one a null shingle
    val withNulls = Seq(
      (-1L, Seq("a", null, "c", "a", null, "c"), ""),
      (-2L, Seq("x", "y", "z", null, "x", "y", "z"), ""))
      .toDF("doc_id", "ws", "text")
    val df = corpus(300).union(withNulls).filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        WordShingles(col("ws"), 3).as("nat"),
        expr("""array_distinct(transform(sequence(0, size(ws) - 3),
                |  i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])))""".stripMargin)
          .as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: ${r.getSeq[String](1)} != ${r.getSeq[String](2)}")
    }
  }

  test("GramMd5s positional == CASE-guarded transform(md5(concat_ws(slice)))") {
    for (k <- Seq(3, 8)) {
      val df = corpus(300).select(col("doc_id"),
        GramMd5s(col("ws"), k, distinct = false).as("nat"),
        expr(s"""CASE WHEN size(ws) >= $k
                |  THEN transform(sequence(1, size(ws) - ${k - 1}),
                |         i -> md5(concat_ws(' ', slice(ws, i, $k))))
                |  ELSE array() END""".stripMargin).as("hof"))
      df.collect().foreach { r =>
        assert(r.getSeq[String](1) == r.getSeq[String](2),
          s"k=$k doc ${r.getLong(0)}")
      }
    }
  }

  test("GramMd5s distinct == array_distinct(transform(md5(concat_ws(slice))))") {
    val k = 4
    val df = corpus(300).filter(size(col("ws")) >= k)
      .select(col("doc_id"),
        GramMd5s(col("ws"), k, distinct = true).as("nat"),
        expr(s"""array_distinct(transform(sequence(0, size(ws) - $k),
                |  i -> md5(concat_ws(' ', slice(ws, i + 1, $k)))))""".stripMargin)
          .as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
  }

  test("CountIn == size(filter(ws, w -> w IN (...))), Column and SQL forms") {
    val stops = Seq("the", "a", "and", "of", "to")
    val inList = stops.map(w => s"'$w'").mkString(", ")
    val df = corpus(300).select(col("doc_id"),
      CountIn(col("ws"), stops).as("nat"),
      expr(s"count_in(ws, $inList)").as("natSql"),
      expr(s"size(filter(ws, w -> w IN ($inList)))").as("hof"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(3) && r.getInt(2) == r.getInt(3),
        s"doc ${r.getLong(0)}: ${r.getInt(1)}/${r.getInt(2)} != ${r.getInt(3)}")
    }
  }

  test("TermCounts element k == size(filter(ws, w -> w = term_k))") {
    val terms = Seq("fox", "the", "qqq", "nosuchword")
    val hofs = terms.zipWithIndex.map { case (t, i) =>
      expr(s"size(filter(ws, w -> w = '$t'))").as(s"h$i")
    }
    val df = corpus(300).select(
      col("doc_id") +: TermCounts(col("ws"), terms).as("nat") +: hofs: _*)
    df.collect().foreach { r =>
      val nat = r.getSeq[Int](1)
      terms.indices.foreach { i =>
        assert(nat(i) == r.getInt(2 + i),
          s"doc ${r.getLong(0)} term ${terms(i)}: ${nat(i)} != ${r.getInt(2 + i)}")
      }
    }
  }

  test("ScrubKeptWords == transform(filter(sequence, NOT exists), element_at)") {
    val k = 8
    // n >= 1: split(text, ' ') never yields an empty array (split of ""
    // is [""]), and the composable form's sequence(1, 0) would go
    // DESCENDING on one — an input the operator cannot produce.
    val rowGen = for {
      n <- Gen.choose(1, 60)
      ws <- Gen.listOfN(n, word)
      nh <- Gen.choose(0, 6)
      hp0 <- Gen.listOfN(nh, Gen.choose(1, n))
    } yield (ws, hp0.sorted) // operator sort_array's hp
    val df = TestSpark.samples(rowGen, 300).zipWithIndex
      .map { case ((ws, hp), i) => (i.toLong, ws, hp) }
      .toDF("doc_id", "ws", "hp")
      .select(col("doc_id"),
        graft.functions.ScrubKeptWords(col("ws"), col("hp"), k).as("nat"),
        expr(
          s"""transform(filter(sequence(1, size(ws)),
             |  j -> NOT exists(hp, i -> j >= i AND j < i + $k)),
             |  j -> element_at(ws, j))""".stripMargin).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
  }

  test("CharNgrams == array_distinct(transform(sequence, substring)) for len >= n") {
    val n = 4
    val textGen: Gen[String] = for {
      len <- Gen.choose(4, 120)
      cs <- Gen.listOfN(len, Gen.oneOf(Gen.alphaLowerChar, Gen.const(' '),
        Gen.const('é'))) // multi-byte char pins code-point indexing
    } yield cs.mkString
    val df = TestSpark.samples(textGen, 300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        graft.functions.CharNgrams(col("text"), n).as("nat"),
        expr(s"""array_distinct(transform(sequence(1, length(text) - ${n - 1}),
                |  i -> substring(text, i, $n)))""".stripMargin).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
  }

  test("CharNgrams on texts shorter than n yields the empty gram set") {
    val df = Seq((1L, "abc"), (2L, ""), (3L, "é")).toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.CharNgrams(col("text"), 4).as("g"))
    df.collect().foreach(r => assert(r.getSeq[String](1).isEmpty))
  }

  test("HammingDiff == size(filter(sequence, substring != substring)) incl short strings") {
    val bits = 32
    val fpGen: Gen[String] = for {
      len <- Gen.oneOf(Gen.const(bits), Gen.choose(0, bits + 4))
      cs <- Gen.listOfN(len, Gen.oneOf('0', '1'))
    } yield cs.mkString
    val df = TestSpark.samples(Gen.zip(fpGen, fpGen), 300).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "fa", "fb")
      .select(col("id"),
        graft.functions.HammingDiff(col("fa"), col("fb"), bits).as("nat"),
        expr(s"""size(filter(sequence(1, $bits),
                |  i -> substring(fa, i, 1) != substring(fb, i, 1)))""".stripMargin)
          .as("hof"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"row ${r.getLong(0)}: ${r.getInt(1)} != ${r.getInt(2)}")
    }
  }

  test("max_run == the Gopher aggregate() run-length fold") {
    val df = corpus(300)
      .select(col("doc_id"),
        expr("max_run(array_sort(ws))").as("nat"),
        expr("""aggregate(array_sort(ws),
          |  struct(CAST('' AS STRING) AS prev, 0 AS run, 0 AS mx),
          |  (s, w) -> struct(
          |    w AS prev,
          |    CASE WHEN w = s.prev THEN s.run + 1 ELSE 1 END AS run,
          |    GREATEST(s.mx,
          |      CASE WHEN w = s.prev THEN s.run + 1 ELSE 1 END) AS mx),
          |  s -> s.mx)""".stripMargin).as("hof"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"doc ${r.getLong(0)}: ${r.getInt(1)} != ${r.getInt(2)}")
    }
  }

  test("word_shingles(ws, 2) size == the repetition 2-gram distinct count") {
    val df = corpus(300).filter(size(col("ws")) >= 2)
      .select(col("doc_id"),
        expr("size(word_shingles(ws, 2))").as("nat"),
        expr("""size(array_distinct(transform(sequence(0, size(ws) - 2),
          |  i -> concat(ws[i], ' ', ws[i + 1]))))""".stripMargin).as("hof"))
    df.collect().foreach { r =>
      assert(r.getInt(1) == r.getInt(2), s"doc ${r.getLong(0)}")
    }
  }

  test("array_remove tokenizer == filter(w -> w <> '') on messy text") {
    val messy: Gen[String] = for {
      parts <- Gen.listOf(Gen.oneOf("Fox", "THE dog!", "a,b", "--", "  ",
        "7seven", "e.g.", "", "tail"))
    } yield parts.mkString(" ")
    val df = TestSpark.samples(messy, 300).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .select(col("doc_id"),
        array_remove(split(lower(col("text")), "\\W+"), "").as("nat"),
        expr("filter(split(lower(text), '\\\\W+'), w -> w <> '')").as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.getLong(0)}")
    }
  }
}

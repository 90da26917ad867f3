package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import org.apache.spark.sql.functions.{col, expr}

import graft.functions.vec

/** Encoder fixtures for [[NativeVecParitySpec]] (top-level: inner case
  * classes have no stable outer scope for Spark's product encoders).
  */
case class NvpCent(cid: Int, ce: Seq[Double])
case class NvpCW(cid: Int, cw: Seq[Double])
case class NvpSub(j: Int, cws: Seq[NvpCW])

/** Bit-parity for the optimization-r16 native vector kernels
  * (VecQuantize, VecSub, CoarseAssignBest, PqEncodeCodes) against the
  * interpreted higher-order-function forms they replaced — through real
  * Spark projections (the codegen path), doubles compared via
  * doubleToLongBits. Tie-breaks are pinned with planted duplicate
  * centroids/codewords: cos DESC → cid ASC for the coarse assignment,
  * d2 ASC → cid ASC for the PQ encode — the oracle's ORDER BY.
  */
class NativeVecParitySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def bits(d: Double) = java.lang.Double.doubleToLongBits(d)

  private val finiteFloat: Gen[Float] = Gen.oneOf(
    Gen.chooseNum(-1.0f, 1.0f),
    Gen.chooseNum(-1e-7f, 1e-7f),
    Gen.chooseNum(-100.0f, 100.0f),
    Gen.oneOf(0.0f, -0.0f, 1.0f, -1.0f,
      4.76837158203125e-7f, -4.76837158203125e-7f, Float.MinPositiveValue))

  test("VecQuantize == transform(round(cast * 2^20)) with fastRound on AND off") {
    val emb: Gen[Seq[Float]] =
      Gen.choose(0, 24).flatMap(n => Gen.listOfN(n, finiteFloat))
    val df0 = TestSpark.samples(emb, 400).zipWithIndex
      .map { case (e, i) => (i.toLong, e) }.toDF("vec_id", "embedding")
    for (fast <- Seq("true", "false")) {
      spark.conf.set("spark.graft.sql.fastRound", fast)
      try {
        val df = df0.select(col("vec_id"),
          vec.quantize(col("embedding")).as("nat"),
          expr("transform(embedding, x -> round(cast(x as double) * 1048576))")
            .as("hof"))
        df.collect().foreach { r =>
          val (n, h) = (r.getSeq[Double](1), r.getSeq[Double](2))
          assert(n.size == h.size && n.zip(h).forall {
            case (a, b) => bits(a) == bits(b)
          }, s"fastRound=$fast vec ${r.getLong(0)}: $n != $h")
        }
      } finally spark.conf.set("spark.graft.sql.fastRound", "true")
    }
  }

  test("VecSub == zip_with(a, b, (x, y) -> x - y) incl length mismatch") {
    val pair: Gen[(Seq[Double], Seq[Double])] = for {
      n <- Gen.choose(0, 16)
      m <- Gen.oneOf(Gen.const(0), Gen.choose(0, 16))
      a <- Gen.listOfN(n, Gen.chooseNum(-1e6, 1e6))
      b <- Gen.listOfN(m, Gen.chooseNum(-1e6, 1e6))
    } yield (a, b)
    val df = TestSpark.samples(pair, 300).zipWithIndex
      .map { case ((a, b), i) => (i.toLong, a, b) }.toDF("id", "a", "b")
      .select(col("id"), vec.sub(col("a"), col("b")).as("nat"),
        expr("zip_with(a, b, (x, y) -> x - y)").as("hof"))
    df.collect().foreach { r =>
      val (n, h) = (r.getSeq[java.lang.Double](1), r.getSeq[java.lang.Double](2))
      assert(n.size == h.size && n.zip(h).forall {
        case (null, null) => true
        case (a, b) if a != null && b != null => bits(a) == bits(b)
        case _ => false
      }, s"row ${r.getLong(0)}: $n != $h")
    }
  }

  // The exact composable forms the operators used before r16, verbatim.
  private val hofAssign =
    """array_max(transform(cents, c -> struct(
      |  CASE WHEN vec_dot(qe, qe) * vec_dot(c.ce, c.ce) = 0D THEN 0D
      |       ELSE vec_dot(qe, c.ce) /
      |            (sqrt(vec_dot(qe, qe)) * sqrt(vec_dot(c.ce, c.ce))) END AS cs,
      |  -c.cid AS ncid)))""".stripMargin

  private val intishD: Gen[Double] =
    Gen.chooseNum(-2097152L, 2097152L).map(_.toDouble)

  test("CoarseAssignBest == transform/array_max lambda (cs and cid), with ties") {
    val dim = 8
    val vecGen: Gen[Seq[Double]] = Gen.oneOf(
      Gen.listOfN(dim, intishD),
      Gen.const(Seq.fill(dim)(0.0))) // zero vector -> guarded cs = 0 everywhere
    val centsGen: Gen[Seq[NvpCent]] = for {
      k <- Gen.choose(1, 6)
      ces <- Gen.listOfN(k, vecGen)
      dupFirst <- Gen.oneOf(true, false) // planted exact tie on cs
    } yield {
      val base = ces.zipWithIndex.map { case (ce, i) => NvpCent(i, ce) }
      if (dupFirst && base.size > 1)
        base.updated(base.size - 1, NvpCent(base.size - 1, base.head.ce))
      else base
    }
    val rows = TestSpark.samples(Gen.zip(vecGen, centsGen), 300).zipWithIndex
      .map { case ((qe, cents), i) => (i.toLong, qe, cents) }
    val df = rows.toDF("id", "qe", "cents")
      .select(col("id"),
        vec.coarseAssignBest(col("qe"), col("cents")).as("nat"),
        expr(hofAssign).as("hof"))
    df.collect().foreach { r =>
      val nat = r.getStruct(1)
      val hof = r.getStruct(2)
      assert(bits(nat.getDouble(0)) == bits(hof.getDouble(0)) &&
        nat.getInt(1) == -hof.getInt(1),
        s"row ${r.getLong(0)}: nat=(${nat.getDouble(0)},${nat.getInt(1)}) " +
          s"hof=(${hof.getDouble(0)},${-hof.getInt(1)})")
    }
  }

  test("CoarseAssignBest on an empty centroid array is NULL, interpreted " +
    "and codegen, like the lambda form") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{InterpretedMutableProjection, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.types._
    val centsT = ArrayType(StructType(Seq(
      StructField("cid", IntegerType), StructField("ce", ArrayType(DoubleType)))))
    val e = graft.functions.CoarseAssignBest(
      Literal.create(Seq(1.0, 2.0), ArrayType(DoubleType)),
      Literal.create(Seq.empty, centsT))
    assert(e.nullable)
    assert(e.eval(InternalRow.empty) == null)
    assert(new InterpretedMutableProjection(Seq(e))(InternalRow.empty).isNullAt(0))
    assert(GenerateMutableProjection.generate(Seq(e))(InternalRow.empty).isNullAt(0))
    // Through a projection over a non-foldable column, as operators use it.
    val r = spark.range(1).selectExpr("array(cast(id + 1 AS double)) AS qe",
        "filter(array(named_struct('cid', cast(id AS int), 'ce', " +
          "array(1D))), c -> false) AS cents")
      .select(vec.coarseAssignBest(col("qe"), col("cents")).as("nat"),
        expr(hofAssign).as("hof"))
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("PqEncodeCodes == transform/array_min/aggregate/zip_with lambda, with ties") {
    val subDim = 4
    val m = 3
    val cwGen: Gen[Seq[Double]] = Gen.listOfN(subDim, intishD)
    val cbGen: Gen[Seq[NvpSub]] = for {
      ks <- Gen.choose(1, 5)
      subs <- Gen.listOfN(m, Gen.listOfN(ks, cwGen))
      tie <- Gen.oneOf(true, false)
    } yield subs.zipWithIndex.map { case (cws, j) =>
      val base = cws.zipWithIndex.map { case (cw, c) => NvpCW(c, cw) }
      // planted duplicate codeword -> exact d2 tie, must pick smaller cid
      val withTie = if (tie && base.size > 1)
        base.updated(base.size - 1, NvpCW(base.size - 1, base.head.cw))
      else base
      NvpSub(j, withTie)
    }
    val qeGen: Gen[Seq[Double]] = Gen.listOfN(m * subDim, intishD)
    val rows = TestSpark.samples(Gen.zip(qeGen, cbGen), 300).zipWithIndex
      .map { case ((qe, cb), i) => (i.toLong, qe, cb) }
    val df = rows.toDF("id", "qe", "cb")
      .select(col("id"), vec.pqEncode(col("qe"), col("cb")).as("nat"),
        expr(
          s"""transform(cb, e ->
             |  array_min(transform(e.cws, c -> struct(
             |    aggregate(zip_with(slice(qe, e.j * $subDim + 1, $subDim), c.cw,
             |      (a, b) -> (a - b) * (a - b)), 0D, (acc, v) -> acc + v) AS d2,
             |    c.cid AS cid))).cid)""".stripMargin).as("hof"))
    df.collect().foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"row ${r.getLong(0)}: ${r.getSeq[Int](1)} != ${r.getSeq[Int](2)}")
    }
  }

  test("PqEncodeCodes fails loudly when the vector cannot cover a subspace") {
    val df = Seq((Seq(1.0, 2.0), Seq(NvpSub(1, Seq(NvpCW(0, Seq(1.0, 2.0)))))))
      .toDF("qe", "cb")
    val e = intercept[Exception] {
      df.select(vec.pqEncode(col("qe"), col("cb"))).collect()
    }
    assert(e.getMessage != null)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/** Native codegen'd dot product over two `array<float>` embedding columns.
  *
  * The reference exposes extensible scalar functions through its codegen
  * path (`/root/reference/qpmodel/ExprFunc.cs:42-76`, Roslyn codegen
  * `/root/reference/qpmodel/codegen.cs:102-183`); the Spark-first analog is
  * a Catalyst `Expression` with `doGenCode` so the hot loop stays inside
  * whole-stage codegen — no boxing, no UDF serialization. At 100 TB the
  * dot product is the inner loop of ANN / embedding-dedup jobs, so this is
  * the single most codegen-worthy function in the engine.
  *
  * Accumulates in double (float inputs widened): a deterministic
  * left-to-right IEEE sum. NOTE this alone is not reproducible against
  * engines that accumulate differently (DuckDB's list_dot_product on
  * FLOAT[] accumulates in float32) — for cross-engine-exact scores, feed
  * it `vec.quantize`d integral arrays, where every partial sum is exact
  * and order-independent.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects float or double arrays, " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  private def isDouble(e: Expression): Boolean = e.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (ld, rd) = (isDouble(left), isDouble(right))
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (ld) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (rd) y.getDouble(i) else y.getFloat(i).toDouble
      s += xv * yv
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val xe = if (isDouble(left)) s"$x.getDouble($i)"
               else s"((double) $x.getFloat($i))"
      val ye = if (isDouble(right)) s"$y.getDouble($i)"
               else s"((double) $y.getFloat($i))"
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $xe * $ye;
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Fused quantized cosine: one codegen'd pass computing all three dot
  * accumulators (a·b, a·a, b·b) over embeddings quantized inline onto
  * the integral 2^-20 grid — no intermediate quantized arrays, no
  * interpreted higher-order functions, 3× fewer array traversals than
  * composing three VecDots. Bit-identical to
  * cosine(quantize(a), quantize(b)): the accumulators are sums of exact
  * integers (order-independent), and the final
  * dot / (sqrt(aa) * sqrt(bb)) is the same IEEE arithmetic.
  */
case class VecCosineQ(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_cosine_q expects (array<float>, array<float>), " +
        s"got (${left.dataType.sql}, ${right.dataType.sql})")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine_q"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      val qx = VecCosineQ.roundHalfAway(x.getFloat(i) * 1048576.0)
      val qy = VecCosineQ.roundHalfAway(y.getFloat(i) * 1048576.0)
      ab += qx * qy; aa += qx * qx; bb += qy * qy
      i += 1
    }
    // A vector quantizing to all zeros (every |x| < 2^-21) would make this
    // 0/0 = NaN, whose handling differs between engines; define cosine
    // against a zero vector as 0.0 in both this expression and the oracle.
    val denom = math.sqrt(aa) * math.sqrt(bb)
    if (denom == 0.0) 0.0 else ab / denom
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ab = ctx.freshName("ab")
      val aa = ctx.freshName("aa")
      val bb = ctx.freshName("bb")
      val qx = ctx.freshName("qx")
      val qy = ctx.freshName("qy")
      val den = ctx.freshName("den")
      val helper = classOf[VecCosineQ].getName
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $ab = 0.0; double $aa = 0.0; double $bb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $qx = $helper.roundHalfAway($x.getFloat($i) * 1048576.0);
         |  double $qy = $helper.roundHalfAway($y.getFloat($i) * 1048576.0);
         |  $ab += $qx * $qy; $aa += $qx * $qx; $bb += $qy * $qy;
         |}
         |double $den = java.lang.Math.sqrt($aa) * java.lang.Math.sqrt($bb);
         |${ev.value} = ($den == 0.0) ? 0.0 : $ab / $den;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosineQ =
    copy(left = newLeft, right = newRight)
}

object VecCosineQ {
  /** SQL ROUND semantics (half away from zero), matching both engines'
    * ROUND on the same IEEE double.
    */
  def roundHalfAway(v: Double): Double =
    if (v >= 0) Math.floor(v + 0.5) else Math.ceil(v - 0.5)
}

/** Native ADC lookup-sum for product quantization:
  * `sum_j lut[j][codes[j]]` over a per-query LUT (`array<array<double>>`,
  * m × ks) and a vector's PQ codes (`array<int>`, length m).
  *
  * This is THE inner loop of PQ/IVF-PQ serving — evaluated once per
  * (corpus vector, query) pair. The composed form
  * (`aggregate(sequence(0, m-1), …)` with nested `element_at`) runs as
  * interpreted higher-order lambdas; at 2M vectors × 10 queries the
  * interpreter overhead dominated the whole query (~96 s where the
  * IVF exact-cosine path, whose inner loop is the codegen'd VecCosineQ,
  * took 4 s — measured in the r9 third-decade soak). Same IEEE
  * left-to-right sum as the lambda form, so scores are bit-identical
  * and the DuckDB oracle is unchanged.
  */
case class AdcDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ArrayType(DoubleType, _), _),
            ArrayType(IntegerType, _)) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"adc_dot expects (array<array<double>>, array<int>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]
    val codes = b.asInstanceOf[ArrayData]
    val n = math.min(lut.numElements(), codes.numElements())
    var s = 0.0
    var j = 0
    while (j < n) {
      s += lut.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val ad = classOf[ArrayData].getName
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $j = 0; $j < $n; $j++) {
         |  $ad __inner = $x.getArray($j);
         |  $s += __inner.getDouble($y.getInt($j));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDot =
    copy(left = newLeft, right = newRight)
}

/** Native quantizer: `array<float>` onto the integral 2^-20 grid as
  * exact integral doubles — bit-identical to
  * `transform(a, x -> round(cast(x as double) * 1048576d))` (and thus to
  * the FastRound-rewritten `round_q` form: the float→double cast is
  * exact, ×2^20 is a power-of-two scale with no rounding, and the
  * half-away rounding below is the RoundQ exact-fraction algorithm,
  * itself proven bit-identical to Spark's BigDecimal ROUND in
  * FastRoundSpec). The composable `transform` runs as an interpreted
  * higher-order lambda evaluated 64×/embedding on every corpus row of
  * every ANN/semantic query; this keeps the loop compiled.
  */
case class VecQuantize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_quantize expects array<float>, got ${t.sql}")
  }

  override def dataType: DataType = ArrayType(DoubleType,
    child.dataType.asInstanceOf[ArrayType].containsNull)
  override def prettyName: String = "vec_quantize"

  override def nullSafeEval(input: Any): Any =
    VecKernels.quantize(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.quantize($c)")

  override protected def withNewChildInternal(newChild: Expression): VecQuantize =
    copy(child = newChild)
}

/** Native elementwise difference of two `array<double>` — bit-identical
  * to `zip_with(a, b, (x, y) -> x - y)` (result length = max of the two,
  * the shorter side null-padded; null in → null out). The residual
  * computation of IVFADC evaluates this per corpus row as an interpreted
  * lambda; this keeps it compiled.
  */
case class VecSub(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_sub expects (array<double>, array<double>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_sub"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.sub(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VecKernels.sub($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecSub =
    copy(left = newLeft, right = newRight)
}

/** Native coarse-quantizer assignment: given a quantized vector `qe`
  * (array<double>) and the one-row centroid model `cents`
  * (array<struct<cid:int, ce:array<double>>>), return
  * struct<cs: double, cid: int> — the guarded quantized cosine and id of
  * the best centroid under (cos DESC, cid ASC), bit-identical to
  *
  *   array_max(transform(cents, c -> struct(cosQ(qe, c.ce) AS cs,
  *                                          -c.cid AS ncid)))
  *
  * (lexicographic max: highest cosine, ties to the smaller cid). cosQ is
  * the zero-guarded cosine over exact integral doubles — the same
  * arithmetic as [[Similarity]]'s `when(dot*dot === 0, 0)` form: all
  * three dot accumulators are exact integer sums, so the division inputs
  * are bit-identical; NaN cannot arise. The composable form is an
  * interpreted lambda that re-evaluates dot(qe, qe) per centroid; this
  * computes it once and stays compiled. An empty `cents` has no best
  * centroid: the result is NULL, as `array_max` of an empty array is.
  */
case class CoarseAssignBest(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(StructType(Array(
              StructField(_, IntegerType, _, _),
              StructField(_, ArrayType(DoubleType, _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"coarse_assign expects (array<double>, " +
          s"array<struct<cid int, ce array<double>>>), got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("cs", DoubleType, nullable = false),
    StructField("cid", IntegerType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "coarse_assign"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.coarseAssign(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"""${ev.value} = graft.functions.VecKernels.coarseAssign($x, $y);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CoarseAssignBest =
    copy(left = newLeft, right = newRight)
}

/** Native PQ encoder: given a (residual-)quantized vector `qe`
  * (array<double>) and the one-row nested codebook `cb`
  * (array<struct<j:int, cws:array<struct<cid:int, cw:array<double>>>>>),
  * return the m PQ codes (array<int>): per subspace j, the cid of the
  * codeword with minimal L2² to `slice(qe, j*subDim+1, subDim)` under
  * (d2 ASC, cid ASC) — bit-identical to the composable
  *
  *   transform(cb, e -> array_min(transform(e.cws, c -> struct(
  *     aggregate(zip_with(slice(qe, e.j*subDim+1, subDim), c.cw,
  *       (a,b) -> (a-b)*(a-b)), 0D, (acc,v) -> acc+v) AS d2,
  *     c.cid AS cid))).cid)
  *
  * with the identical left-to-right IEEE d2 accumulation. subDim is each
  * codeword's own length, so every codeword of `cb` must have the same
  * length: subspace j starts at j × that length. The lambda form is THE
  * per-corpus-row inner loop of every PQ encode (m × ks × subDim
  * interpreted ops/row); this keeps it compiled. Requires `qe` to cover every subspace slice
  * (fails loudly otherwise — the lambda form would silently null-pad).
  */
case class PqEncodeCodes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(StructType(Array(
              StructField(_, IntegerType, _, _),
              StructField(_, ArrayType(StructType(Array(
                StructField(_, IntegerType, _, _),
                StructField(_, ArrayType(DoubleType, _), _, _))), _), _, _))), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects (array<double>, array<struct<j int, " +
          s"cws array<struct<cid int, cw array<double>>>>>), " +
          s"got (${l.sql}, ${r.sql})")
    }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.pqEncode(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.functions.VecKernels.pqEncode($x, $y);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncodeCodes =
    copy(left = newLeft, right = newRight)
}

/** Static kernels shared by interpreted eval and generated code. */
object VecKernels {

  /** RoundQ's exact-fraction half-away rounding (see graft.functions.RoundQ
    * for the bit-identity proof against Spark's BigDecimal ROUND).
    */
  private def roundQ(v: Double): Double =
    if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v)) v
    else {
      val a = math.abs(v)
      val f = math.floor(a)
      var r = if (a - f >= 0.5) f + 1.0 else f
      if (v < 0) r = -r
      if (r == 0.0) 0.0 else r
    }

  def quantize(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i))
        out(i) = Double.box(roundQ(arr.getFloat(i).toDouble * 1048576.0))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def sub(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements()
    val nb = b.numElements()
    val n = math.max(na, nb)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (i < na && i < nb && !a.isNullAt(i) && !b.isNullAt(i))
        out(i) = Double.box(a.getDouble(i) - b.getDouble(i))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Guarded quantized cosine of `qe` against `ce`, with `qq` =
    * dot(qe, qe) precomputed (exact integer sums — identical at any
    * evaluation order of the loop nest, see VecDot's scaladoc).
    */
  private def cosQ(qe: ArrayData, ce: ArrayData, qq: Double): Double = {
    val n = math.min(qe.numElements(), ce.numElements())
    var ab = 0.0
    var bb = 0.0
    var i = 0
    while (i < ce.numElements()) {
      val c = ce.getDouble(i)
      bb += c * c
      i += 1
    }
    i = 0
    while (i < n) {
      ab += qe.getDouble(i) * ce.getDouble(i)
      i += 1
    }
    if (qq * bb == 0.0) 0.0 else ab / (math.sqrt(qq) * math.sqrt(bb))
  }

  /** Best centroid as (cs, cid), or null when `cents` is empty. */
  def coarseAssign(qe: ArrayData, cents: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    if (cents.numElements() == 0) return null
    var qq = 0.0
    var i = 0
    while (i < qe.numElements()) {
      val v = qe.getDouble(i)
      qq += v * v
      i += 1
    }
    val k = cents.numElements()
    var bestCs = Double.NegativeInfinity
    var bestNcid = Int.MinValue
    var any = false
    i = 0
    while (i < k) {
      val row = cents.getStruct(i, 2)
      val cid = row.getInt(0)
      val cs = cosQ(qe, row.getArray(1), qq)
      val ncid = -cid
      // lexicographic max over (cs, ncid) == cos DESC, cid ASC
      if (!any || cs > bestCs || (cs == bestCs && ncid > bestNcid)) {
        any = true
        bestCs = cs
        bestNcid = ncid
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bestCs, -bestNcid))
  }

  def pqEncode(qe: ArrayData, cb: ArrayData): ArrayData = {
    val m = cb.numElements()
    val codes = new Array[Int](m)
    val qn = qe.numElements()
    var e = 0
    while (e < m) {
      val sub = cb.getStruct(e, 2)
      val j = sub.getInt(0)
      val cws = sub.getArray(1)
      val nc = cws.numElements()
      var bestD2 = Double.PositiveInfinity
      var bestCid = Int.MaxValue
      var any = false
      var c = 0
      while (c < nc) {
        val cwRow = cws.getStruct(c, 2)
        val cid = cwRow.getInt(0)
        val cw = cwRow.getArray(1)
        val sd = cw.numElements()
        val off = j * sd
        if (off + sd > qn)
          throw new IllegalArgumentException(
            s"pq_encode: vector of ${qn} dims cannot cover subspace j=$j " +
              s"of width $sd")
        var d2 = 0.0
        var t = 0
        while (t < sd) {
          val d = qe.getDouble(off + t) - cw.getDouble(t)
          d2 += d * d
          t += 1
        }
        // lexicographic min over (d2, cid)
        if (!any || d2 < bestD2 || (d2 == bestD2 && cid < bestCid)) {
          any = true
          bestD2 = d2
          bestCid = cid
        }
        c += 1
      }
      codes(e) = bestCid
      e += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      codes.map(Int.box).asInstanceOf[Array[Any]])
  }
}

/** Column-API entry points for the native vector expressions. */
object vec {
  def dot(a: Column, b: Column): Column =
    column(VecDot(expression(a), expression(b)))

  /** Cosine similarity built from the codegen'd dot product. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Quantize a float embedding onto an integral 2^-20 grid (as exact
    * integral doubles). Dot products of quantized 64-dim vectors are then
    * exact integer arithmetic (|round(x * 2^20)| <= 2^20 for |x| <= 1, so
    * a 64-term product-sum stays far below 2^53): order-independent and
    * bit-identical in any engine — which makes cosine scores, and thus
    * top-k rankings, deterministic across Spark and the DuckDB oracle.
    * Quantization error (~1e-6 relative) is far below typical top-k
    * score gaps (~1e-4). Native single-pass expression since
    * optimization r16 (see VecQuantize) — bit-identical to the previous
    * `transform(a, x -> round(cast(x as double) * 1048576d))`.
    */
  def quantize(a: Column): Column = column(VecQuantize(expression(a)))

  /** Elementwise difference — codegen'd zip_with(a, b, (x,y) -> x-y). */
  def sub(a: Column, b: Column): Column =
    column(VecSub(expression(a), expression(b)))

  /** Best coarse centroid as struct<cs, cid> (cos DESC, cid ASC) — the
    * codegen'd form of the transform/array_max assignment lambda.
    */
  def coarseAssignBest(qe: Column, cents: Column): Column =
    column(CoarseAssignBest(expression(qe), expression(cents)))

  /** PQ codes (argmin-L2 per subspace, ties to the smaller cid) — the
    * codegen'd form of the transform/array_min encode lambda.
    */
  def pqEncode(qe: Column, cb: Column): Column =
    column(PqEncodeCodes(expression(qe), expression(cb)))

  /** Cosine over quantized embeddings: cross-engine deterministic.
    * Fused single-pass native expression (see VecCosineQ) —
    * bit-identical to cosine(quantize(a), quantize(b)).
    */
  def cosineQ(a: Column, b: Column): Column =
    column(VecCosineQ(expression(a), expression(b)))

  /** PQ asymmetric-distance score: codegen'd `sum_j lut[j][codes[j]]`. */
  def adcDot(lut: Column, codes: Column): Column =
    column(AdcDot(expression(lut), expression(codes)))
}

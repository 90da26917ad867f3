package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** pack_varint / packed_intersect: the delta-varint adjacency codec
  * must agree with plain array semantics on arbitrary long sets, and
  * the packed graph plan must return byte-identical results.
  */
class PackedAdjacencySpec extends AnyFunSuite {
  import TestSpark._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    TestSpark.samples(g, n)

  test("codec property: intersect(pack(a), pack(b)) == sorted set " +
    "intersection, including negatives, empties, and wide gaps") {
    val longs = Gen.oneOf(
      Gen.chooseNum(-1000L, 1000L),
      Gen.chooseNum(Long.MinValue, Long.MaxValue),
      // gap overflow hazards: consecutive sorted values more than half
      // the long range apart must survive the wrapping delta encode
      Gen.oneOf(0L, -1L, 1L, Long.MinValue, Long.MaxValue,
        Long.MaxValue / 3, -(1L << 40)))
    val arr = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, longs))
    samples(for { a <- arr; b <- arr } yield (a, b), 300)
      .foreach { case (a, b) =>
        val got = graft.functions.PackedAdjacency.intersect(
          graft.functions.PackedAdjacency.pack(
            org.apache.spark.sql.catalyst.util.ArrayData
              .toArrayData(a.toArray)),
          graft.functions.PackedAdjacency.pack(
            org.apache.spark.sql.catalyst.util.ArrayData
              .toArrayData(b.toArray))).toLongArray().toSeq
        val want = (a.toSet intersect b.toSet).toSeq.sorted
        assert(got == want, s"a=$a b=$b")
      }
  }

  test("null slots are skipped, never read as phantom id 0") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val withNulls = new GenericArrayData(Array[Any](7L, null, 3L, null))
    val packed = graft.functions.PackedAdjacency.pack(withNulls)
    val other = graft.functions.PackedAdjacency.pack(
      org.apache.spark.sql.catalyst.util.ArrayData
        .toArrayData(Array(0L, 3L)))
    assert(graft.functions.PackedAdjacency.intersect(packed, other)
      .toLongArray().toSeq == Seq(3L),
      "null slot decoded as a phantom node 0")
  }

  test("graph results are identical packed and unpacked (sf0.001 " +
    "co-occurrence graph), and the packed plan stays codegen'd") {
    val s = spark
    val orders = s.read.parquet(s"$sfDir/lineitem.parquet")
    val edges = graft.operators.Graph.coOccurrenceEdges(
      orders, "l_orderkey", "l_partkey")
    def run(): (Long, Seq[String]) = {
      val tri = graft.operators.Graph.triangleCount(edges)
        .head().getLong(0)
      val coeff = graft.operators.Graph.clusteringCoeffTopK(edges, 10)
        .collect().map(_.toSeq.mkString(",")).toSeq
      (tri, coeff)
    }
    val key = "spark.graft.graph.packedAdjacency"
    s.conf.set(key, "true")
    val (triP, coeffP) = try run() finally s.conf.unset(key)
    s.conf.set(key, "false")
    val (triU, coeffU) = try run() finally s.conf.unset(key)
    assert(triP == triU && triP > 0, s"packed $triP vs unpacked $triU")
    assert(coeffP == coeffU)
  }
}

package graft

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** pack_varint / packed_intersect: the delta-varint adjacency codec
  * must agree with plain array semantics on arbitrary long sets. The
  * graph plans that carry it are checked end to end by
  * GraphPropertySpec's brute-force counts and the graph_triangles /
  * graph_clustering_coeff oracles.
  */
class PackedAdjacencySpec extends AnyFunSuite {
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
}

package graft

import org.scalatest.funsuite.AnyFunSuite

class Round2KernelSpec extends AnyFunSuite {

  test("FilterNotIn: all-hot input falls back to the full set") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    val arr = UnsafeArrayData.fromPrimitiveArray(Array(5L, 6L, 7L))
    val partial = graft.hash.FilterNotIn.filter(arr, Array(5L, 7L))
    assert(partial.toLongArray().toSeq === Seq(6L))
    val all = graft.hash.FilterNotIn.filter(arr, Array(5L, 6L, 7L))
    assert(all.toLongArray().toSeq === Seq(5L, 6L, 7L),
      "dropping every shingle would give all such docs one identical " +
        "empty-input minhash (hot-bucket skew); keep the full set instead")
  }
}

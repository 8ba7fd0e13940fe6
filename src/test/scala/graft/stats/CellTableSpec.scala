package graft.stats

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class CellTableSpec extends AnyFunSuite with Matchers {

  test("partial cells emitted past FlushCap re-sum to exact counts") {
    // cell j = (j % 7, j, 31·j), counted 1 + j % 3 times over three passes,
    // so cells on both sides of every flush recur in later partials
    val distinct = CellTable.FlushCap + 5000
    val sums = new Array[Long](distinct)
    var emitted = 0L
    val counter = new CellCounter("test", (k, x, y, c) => {
      val j = x.toInt
      assert(k == j % 7 && y == 31L * j, s"cell $j")
      sums(j) += c
      emitted += 1
    })
    for (pass <- 0 until 3; j <- 0 until distinct if j % 3 >= pass)
      counter.add(j % 7, j, 31L * j)
    counter.flush()
    assert(emitted > distinct, "no flush ran before the final one")
    (0 until distinct).foreach(j => assert(sums(j) == 1 + j % 3, s"cell $j"))
  }

  test("emitting more than MaxEmitted cells raises the contract error") {
    val counter = new CellCounter("test", (_, _, _, _) => ())
    (0 until CellTable.MaxEmitted).foreach(j => counter.add(0L, j, 0L))
    counter.flush() // exactly MaxEmitted cells is still within the guard
    counter.add(0L, -1L, 0L)
    val ex = intercept[IllegalArgumentException](counter.flush())
    ex.getMessage should include("test contingency exceeded")
  }

  test("NaN, NullBits and ±0.0 stay distinct cells") {
    val values = new GenericArrayData(
      Array[Any](null, Double.NaN, 0.0, -0.0, Double.NaN, null, -0.0))
    val bits = (0 until values.numElements()).map(CellTable.bitsAt(values, _))
    bits.head shouldBe CellTable.NullBits
    var t = Array.emptyLongArray
    bits.foreach(b => t = CellTable.add(t, 1L, b, b, 1L))
    val cells = Map.newBuilder[Long, Long]
    CellTable.foreach(t)((_, x, _, c) => cells += x -> c)
    cells.result() shouldBe Map(
      CellTable.NullBits -> 2L,
      java.lang.Double.doubleToLongBits(Double.NaN) -> 2L,
      java.lang.Double.doubleToLongBits(0.0) -> 1L,
      java.lang.Double.doubleToLongBits(-0.0) -> 2L)
    CellTable.size(t) shouldBe 4L
  }
}

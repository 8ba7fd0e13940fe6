package graft.stats

import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.util.Random

/** Differential lock on the level coder and the dense counter: counting
  * codes must give the (mi, chi², lx, ly, n) of the per-cell
  * [[CellTable]] spelling they replaced, which this spec keeps as its
  * oracle — on NULL, NaN and ±0.0 elements, ragged rows, run and chunk
  * boundaries, and pairs past the dense bound, whose counts fall back to
  * a hash.
  */
class CodedCountsSpec extends AnyFunSuite with Matchers {

  private type Stats = (Double, Double, Long, Long, Long)

  private def sameStats(got: Stats, want: Stats): Unit = {
    got._1 shouldBe want._1 +- 1e-12
    got._2 shouldBe want._2 +- 1e-12 * math.max(1.0, want._2)
    (got._3, got._4, got._5) shouldBe ((want._3, want._4, want._5))
  }

  /** A value of a random categorical column; null is a NULL element. */
  private def value(rnd: Random): java.lang.Double = rnd.nextInt(7) match {
    case 0 => null
    case 1 => Double.NaN
    case 2 => if (rnd.nextBoolean()) 0.0 else -0.0
    case _ => rnd.nextInt(4).toDouble
  }

  /** The per-cell spelling: one [[CellTable.add]] per (x, y) value pair. */
  private def perCell(xs: Seq[Long], ys: Seq[Long]): Stats = {
    var t = Array.emptyLongArray
    xs.zip(ys).foreach { case (x, y) => t = CellTable.add(t, 0L, x, y, 1L) }
    CellTable.foldTable(t)
  }

  private def bits(v: java.lang.Double): Long =
    if (v == null) CellTable.NullBits
    else java.lang.Double.doubleToLongBits(v)

  /** Counts every pair of runs of `xs` and `ys` into one table. */
  private def coded(xs: Seq[Coded], ys: Seq[Coded]): Stats = {
    var t = Array.emptyLongArray
    val sink: CellSink = (k, x, y, c) => t = CellTable.add(t, k, x, y, c)
    xs.zip(ys).foreach { case (x, y) => Coded.count(x, y, 0L, sink) }
    CellTable.foldTable(t)
  }

  test("conventional chunks count as the per-cell spelling, ragged rows " +
    "and chunk boundaries included") {
    val rnd = new Random(3)
    val rows = Coded.MaxValues + 4000
    // columns 0-2 categorical; 3 and 4 have thousands of levels, so their
    // pair is past the dense bound in a full chunk
    val m: IndexedSeq[(java.lang.Double, Array[java.lang.Double])] =
      (0 until rows).map { i =>
        val full = Array[java.lang.Double](value(rnd), value(rnd),
          value(rnd), (i % 3000).toDouble, ((i * 13) % 2999).toDouble)
        // the first row is short, so later columns are backfilled as NULL
        val width = if (i == 0) 1 else if (rnd.nextInt(50) == 0)
          rnd.nextInt(full.length) else full.length
        (if (rnd.nextInt(25) == 0) null else value(rnd),
          if (rnd.nextInt(500) == 0) null else full.take(width))
      }
    def row(r: (java.lang.Double, Array[java.lang.Double])): InternalRow =
      new GenericInternalRow(Array[Any](r._1,
        if (r._2 == null) null
        else new GenericArrayData(r._2.map(x => x: Any))))
    def at(r: (java.lang.Double, Array[java.lang.Double]), j: Int): Long =
      if (j < 0) bits(r._1)
      else if (r._2 == null || j >= r._2.length) CellTable.NullBits
      else bits(r._2(j))
    val pairs = (0 until 6).map(c => (c, -1)) ++
      (for (i <- 0 until 6; j <- 0 until i) yield (i, j))
    val chunks = CodedRows.chunks(m.iterator.map(row)).toSeq
    chunks.map(_.label.size) shouldBe Seq(Coded.MaxValues, 4000)
    chunks.map(_.width) shouldBe Seq(5, 5)
    Coded.dense(chunks.head.col(3), chunks.head.col(4)) shouldBe false
    // column 5 is past every row: all NULL
    pairs.foreach { case (c, o) =>
      withClue(s"pair ($c, $o): ") {
        sameStats(
          coded(chunks.map(_.col(c)),
            chunks.map(ch => if (o < 0) ch.label else ch.col(o))),
          perCell(m.map(at(_, c)), m.map(at(_, o))))
      }
    }
  }

  test("blocked slices count as the per-cell spelling at width 3 and the " +
    "default width") {
    val rnd = new Random(5)
    val n = 2500
    val label = IndexedSeq.fill(n)(value(rnd))
    val features = Seq(
      IndexedSeq.fill(n)(value(rnd)),
      IndexedSeq.fill(n)(java.lang.Double.valueOf(rnd.nextInt(2).toDouble)),
      // as many levels as values: past the dense bound in a full slice
      (0 until n).map(i => java.lang.Double.valueOf(i.toDouble)))
    def slices(vs: IndexedSeq[java.lang.Double], width: Int): Seq[Coded] =
      vs.grouped(width).map(s =>
        Coded.of(new GenericArrayData(s.map(x => x: Any).toArray))).toSeq
    for (width <- Seq(3, 1024); (f, i) <- features.zipWithIndex) {
      withClue(s"width $width, feature $i: ") {
        if (width == 1024 && i == 2) {
          val (x, y) = (slices(f, width).head, slices(f, width).head)
          Coded.dense(x, y) shouldBe false
          sameStats(coded(Seq(x), Seq(y)),
            perCell(f.take(width).map(bits), f.take(width).map(bits)))
        }
        sameStats(coded(slices(f, width), slices(label, width)),
          perCell(f.map(bits), label.map(bits)))
      }
    }
  }

  /** `fromVectors` as it was before it counted codes: per-side level
    * dictionaries and a pair-count hash over the non-zero positions.
    */
  private def oldFromVectors(a: Vector, b: Vector): Double = {
    val n = a.size
    if (n == 0) return 0.0
    val da = a.toDense.values
    val db = b.toDense.values
    val dictA = new LongIntMap
    val dictB = new LongIntMap
    val counts = new LongLongMap
    var touched = 0L
    for (i <- 0 until n) {
      val av = da(i); val bv = db(i)
      if (av != 0.0 || bv != 0.0) {
        val ia = dictA.getOrInsert(
          if (av == 0.0) 0L else java.lang.Double.doubleToLongBits(av))
        val ib = dictB.getOrInsert(
          if (bv == 0.0) 0L else java.lang.Double.doubleToLongBits(bv))
        counts.add((ia.toLong << 32) | ib.toLong, 1L)
        touched += 1
      }
    }
    if (n - touched > 0) {
      counts.add((dictA.getOrInsert(0L).toLong << 32) |
        dictB.getOrInsert(0L).toLong, n - touched)
    }
    MutualInformation.fold(counts, dictA.size, dictB.size)._1
  }

  test("vector MI equals the former fromVectors, past a run boundary and " +
    "the dense bound") {
    val rnd = new Random(9)
    def cat(): Double = rnd.nextInt(6) match {
      case 0 => Double.NaN
      case 1 => -0.0
      case 2 | 3 => 0.0
      case _ => rnd.nextInt(3) + 1.0
    }
    val n = Coded.MaxValues + 123
    val a = Array.fill(n)(cat())
    val b = Array.fill(n)(cat())
    val wide = Array.tabulate(n)(i => (i % 5000).toDouble)
    val wide2 = Array.tabulate(n)(i => ((i * 7) % 4999).toDouble)
    Coded.dense(Coded.ofVector(Vectors.dense(wide)).head,
      Coded.ofVector(Vectors.dense(wide2)).head) shouldBe false
    for ((x, y) <- Seq((a, b), (a, a), (wide, wide2), (a.take(40), b.take(40)),
      (Array.empty[Double], Array.empty[Double]))) {
      for ((vx, vy) <- Seq(
        (Vectors.dense(x), Vectors.dense(y)),
        (Vectors.dense(x).toSparse, Vectors.dense(y)))) {
        MutualInformation.fromVectors(vx, vy) shouldBe
          oldFromVectors(vx, vy) +- 1e-12
      }
    }
  }

  test("the coder keeps NULL, NaN and ±0.0 as the fold's three levels") {
    val vs: ArrayData = new GenericArrayData(
      Array[Any](null, Double.NaN, 0.0, -0.0, Double.NaN, null, -0.0))
    val c = Coded.of(vs)
    c.levels.toSeq shouldBe Seq(CellTable.NullBits,
      java.lang.Double.doubleToLongBits(Double.NaN), 0L)
    c.codes.map(_.toInt).toSeq shouldBe Seq(0, 1, 2, 2, 1, 0, 2)
  }
}

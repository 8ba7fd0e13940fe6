package graft.stats

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData

/** At most [[Coded.MaxValues]] categorical values as dense level codes:
  * value i is the level `levels(codes(i))`, kept as the bits of the
  * [[CellTable]] wire format ([[CellTable.NullBits]] for NULL, one bit
  * pattern for every NaN, 0.0's bits for ±0.0). A code is an unsigned
  * 16-bit char, 2 bytes per value where the double took 8.
  */
private[graft] final class Coded(val codes: Array[Char],
                                 val levels: Array[Long])
    extends Serializable {
  def size: Int = codes.length
}

/** The level coder and the dense counter behind every IFS encoding:
  * each path codes its values once and counts pairs of codes with
  * [[count]], which emits cells in the [[CellTable]] wire format.
  */
private[graft] object Coded {

  /** Values per coded run. A run never has more levels than values, so
    * every code fits 16 bits.
    */
  val MaxValues: Int = 1 << 16

  private final val NegZeroBits = java.lang.Double.doubleToLongBits(-0.0)

  /** Codes values one at a time, in first-seen level order. ±0.0 become
    * one level here, once, for every path.
    */
  final class Coder(sizeHint: Int = 16) {
    private val dict = new LongIntMap
    private var codes =
      new Array[Char](math.min(math.max(sizeHint, 1), MaxValues))
    private var n = 0

    def size: Int = n

    def add(bits: Long): Unit = {
      if (n == codes.length) {
        require(n < MaxValues, s"a coded run holds at most $MaxValues values")
        codes = java.util.Arrays.copyOf(codes, math.min(n * 2, MaxValues))
      }
      codes(n) =
        dict.getOrInsert(if (bits == NegZeroBits) 0L else bits).toChar
      n += 1
    }

    def result(): Coded =
      new Coded(java.util.Arrays.copyOf(codes, n), dict.byId)
  }

  /** One array of values, NULL elements as [[CellTable.NullBits]]. */
  def of(values: ArrayData): Coded = {
    val b = new Coder(values.numElements())
    var i = 0
    while (i < values.numElements()) {
      b.add(CellTable.bitsAt(values, i)); i += 1
    }
    b.result()
  }

  /** A vector in runs of [[MaxValues]] positions; two vectors of one
    * length are cut at the same positions.
    */
  def ofVector(v: Vector): Array[Coded] = {
    val vs = v.toArray
    Array.tabulate((vs.length + MaxValues - 1) / MaxValues) { r =>
      val end = math.min(vs.length, (r + 1) * MaxValues)
      val b = new Coder(end - r * MaxValues)
      var i = r * MaxValues
      while (i < end) {
        b.add(java.lang.Double.doubleToLongBits(vs(i))); i += 1
      }
      b.result()
    }
  }

  /** Whether [[count]] fills a dense table for `x` × `y`: one of at most
    * max(4,096, 8·n) cells costs less to clear and scan than n hash
    * inserts, and stays within 4 MB.
    */
  def dense(x: Coded, y: Coded): Boolean =
    x.levels.length.toLong * y.levels.length <= math.max(4096L, 8L * x.size)

  /** Count the co-occurring levels of two runs of one size and emit each
    * non-zero cell to `sink` as (key, xBits, yBits, count). A pair with
    * too many levels for a [[dense]] table counts in a hash on the code
    * pair instead.
    */
  def count(x: Coded, y: Coded, key: Long, sink: CellSink): Unit = {
    val n = x.size
    require(y.size == n, s"coded runs differ in size ($n != ${y.size})")
    val xc = x.codes
    val yc = y.codes
    val lx = x.levels.length
    val ly = y.levels.length
    if (dense(x, y)) {
      val t = new Array[Long](lx * ly)
      var i = 0
      while (i < n) { t(xc(i) * ly + yc(i)) += 1L; i += 1 }
      var c = 0
      var ix = 0
      while (ix < lx) {
        var iy = 0
        while (iy < ly) {
          if (t(c) != 0L) sink.cell(key, x.levels(ix), y.levels(iy), t(c))
          c += 1; iy += 1
        }
        ix += 1
      }
    } else {
      val cells = new LongLongMap(2 * n)
      var i = 0
      while (i < n) { cells.add((xc(i).toLong << 16) | yc(i), 1L); i += 1 }
      cells.foreachEntry((k, c) => sink.cell(key,
        x.levels((k >>> 16).toInt), y.levels((k & 0xffffL).toInt), c))
    }
  }
}

/** Up to [[Coded.MaxValues]] rows of the conventional matrix, coded
  * column by column: the label and each feature position. A position
  * past a row's end is NULL, and a column past every row of the chunk is
  * all NULL.
  */
private[graft] final class CodedRows(val label: Coded, cols: Array[Coded])
    extends Serializable {
  def width: Int = cols.length

  def col(j: Int): Coded =
    if (j < cols.length) cols(j)
    else new Coded(new Array[Char](label.size), Array(CellTable.NullBits))
}

private[graft] object CodedRows {

  /** Values per chunk besides the row cap, so a wide matrix's chunks stay
    * near 8 MB of codes.
    */
  val MaxChunkValues: Long = 1L << 22

  /** Code (label DOUBLE, f ARRAY&lt;DOUBLE&gt;) rows into chunks of at
    * most [[Coded.MaxValues]] rows that stop growing past
    * [[MaxChunkValues]] values, lazily: one chunk's coders at a time.
    */
  def chunks(rows: Iterator[InternalRow]): Iterator[CodedRows] =
    new Iterator[CodedRows] {
      def hasNext: Boolean = rows.hasNext
      def next(): CodedRows = {
        val label = new Coded.Coder
        val cols = scala.collection.mutable.ArrayBuffer.empty[Coded.Coder]
        while (rows.hasNext && label.size < Coded.MaxValues &&
            label.size.toLong * cols.size < MaxChunkValues) {
          val r = rows.next()
          val arr = if (r.isNullAt(1)) null else r.getArray(1)
          val w = if (arr == null) 0 else arr.numElements()
          while (cols.size < w) { // a new column is NULL in the earlier rows
            val b = new Coded.Coder(label.size + 1)
            (0 until label.size).foreach(_ => b.add(CellTable.NullBits))
            cols += b
          }
          label.add(CellTable.bitsAt(r, 0))
          var j = 0
          while (j < cols.size) {
            cols(j).add(
              if (j < w) CellTable.bitsAt(arr, j) else CellTable.NullBits)
            j += 1
          }
        }
        new CodedRows(label.result(), cols.map(_.result()).toArray)
      }
    }
}

package graft.stats

import org.apache.spark.ml.linalg.Vector

import scala.collection.mutable

/** Mutual information between two categorical variables, in nats.
  *
  * Semantics match the reference engine (see SURVEY.md §2 O4/O5, citing
  * `reference:src/main/scala/ifs/ml/stats/MutualInformation.scala:19-77`):
  *   - natural log (nats), `MI = Σ pxy · ln(pxy / (px·py))`
  *   - zero-count cells are skipped (the `pxy > 0` guard)
  *   - a sparse vector's implicit zeros are the zero level, exactly as
  *     stored zeros are.
  *
  * Values are treated as exact categorical levels (`==` grouping, as in
  * Spark's own grouping: ±0.0 are one level, every NaN is one level) —
  * never as ordered quantities. Discretization is the caller's job.
  */
object MutualInformation {

  /** MI from co-occurrence counts given as (levelX, levelY, count) triples.
    * Triples with the same (x, y) key are summed and triples with a count
    * ≤ 0 contribute nothing; every NaN is one level
    * (boxed NaNs never compare equal, so levels are keyed through
    * [[level]]). Runs driver- or executor-local; inputs are bounded by the
    * engine's maxCategories guard.
    */
  def fromPairCounts[X, Y](counts: Iterable[(X, Y, Long)]): Double = {
    val dictX = mutable.HashMap.empty[Any, Int]
    val dictY = mutable.HashMap.empty[Any, Int]
    val cells = new LongLongMap
    counts.foreach { case (x, y, c) =>
      if (c > 0L) {
        val ix = dictX.getOrElseUpdate(level(x), dictX.size)
        val iy = dictY.getOrElseUpdate(level(y), dictY.size)
        cells.add((ix.toLong << 32) | iy.toLong, c)
      }
    }
    fold(cells, dictX.size, dictY.size)._1
  }

  /** Grouping key of a level: all NaNs map to one key. ±0.0 need no case,
    * boxed doubles already compare and hash them equal.
    */
  private def level(v: Any): Any = v match {
    case d: Double if d.isNaN => NaNLevel
    case _ => v
  }
  private object NaNLevel

  /** The one MI fold: (MI in nats, Pearson chi², n) of dense-id cells
    * `(ix << 32 | iy) → count` over `nx` × `ny` levels. chi² uses the
    * identity n·Σ c²/(cx·cy) − n, which equals the Pearson statistic
    * INCLUDING the expected-count mass of absent cells — summing
    * (c−e)²/e over observed cells only would understate chi² whenever the
    * contingency table is sparse.
    */
  private[stats] def fold(cells: LongLongMap, nx: Int, ny: Int)
  : (Double, Double, Long) = {
    val cx = new Array[Long](nx)
    val cy = new Array[Long](ny)
    var n = 0L
    cells.foreachEntry { (k, c) =>
      cx((k >>> 32).toInt) += c
      cy((k & 0xffffffffL).toInt) += c
      n += c
    }
    val nd = n.toDouble
    var mi = 0.0
    var s = 0.0
    cells.foreachEntry { (k, c) =>
      if (c > 0L) {
        val x = cx((k >>> 32).toInt)
        val y = cy((k & 0xffffffffL).toInt)
        val pxy = c / nd
        mi += pxy * math.log(pxy / ((x / nd) * (y / nd)))
        s += c.toDouble * c.toDouble / (x.toDouble * y.toDouble)
      }
    }
    (mi, nd * s - nd, n)
  }

  /** MI from a dense contingency matrix `m(i)(j) = count(x=i, y=j)`. */
  def fromContingency(m: Array[Array[Long]]): Double =
    fromPairCounts(for {
      i <- m.indices
      j <- m(i).indices
    } yield (i, j, m(i)(j)))

  /** MI of two equal-length categorical vectors, sparse or dense.
    *
    * Hot path of the generic alternate-encoding selection (`RowScore`
    * runs it per candidate per round on instance-length vectors): both
    * vectors are coded ([[Coded.ofVector]]) and counted as codes
    * ([[fromCoded]]), the same coder and dense counter as every IFS
    * encoding.
    */
  def fromVectors(a: Vector, b: Vector): Double =
    fromCoded(Coded.ofVector(a), Coded.ofVector(b))

  /** MI of two coded vectors ([[Coded.ofVector]]), through the
    * [[CellTable]] fold that every IFS encoding uses.
    */
  private[graft] def fromCoded(a: Array[Coded], b: Array[Coded]): Double = {
    val (na, nb) = (a.map(_.size.toLong).sum, b.map(_.size.toLong).sum)
    require(na == nb, s"vectors must have equal length ($na != $nb)")
    var t = Array.emptyLongArray
    val sink: CellSink = (k, x, y, c) => t = CellTable.add(t, k, x, y, c)
    a.indices.foreach(r => Coded.count(a(r), b(r), 0L, sink))
    CellTable.foldTable(t)._1
  }
}

/** Minimal open-addressed Long→Int map (linear probing, power-of-two
  * capacity). `getOrInsert` assigns dense ids 0..size-1 in first-seen
  * order, and [[byId]] maps them back. Not thread-safe; built for the MI
  * hot loop.
  */
private[stats] final class LongIntMap(initialCapacity: Int = 32) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16)) * 2
  private var keys = new Array[Long](cap)
  private var vals = new Array[Int](cap)
  java.util.Arrays.fill(vals, -1)
  private var n = 0
  private var inOrder = new Array[Long](16)

  def size: Int = n

  /** The keys by id: `byId(getOrInsert(k)) == k`. */
  def byId: Array[Long] = java.util.Arrays.copyOf(inOrder, n)

  // Fibonacci hashing, the slot from the product's TOP bits: a double's
  // bits vary in its high bits (1.0 … 7.0 differ only in their top 16),
  // which a multiply never carries down to its low bits
  private def slot(key: Long, ks: Array[Long], vs: Array[Int]): Int = {
    var p = ((key * -7046029254386353131L) >>>
      java.lang.Long.numberOfLeadingZeros(ks.length - 1L)).toInt
    while (vs(p) != -1 && ks(p) != key) p = (p + 1) & (ks.length - 1)
    p
  }

  def getOrInsert(key: Long): Int = {
    val p = slot(key, keys, vals)
    if (vals(p) != -1) return vals(p)
    keys(p) = key; vals(p) = n
    if (n == inOrder.length) inOrder = java.util.Arrays.copyOf(inOrder, n * 2)
    inOrder(n) = key
    n += 1
    if (n * 4 > cap * 3) grow()
    n - 1
  }

  private def grow(): Unit = {
    val nk = new Array[Long](cap * 2)
    val nv = new Array[Int](cap * 2)
    java.util.Arrays.fill(nv, -1)
    var i = 0
    while (i < cap) {
      if (vals(i) != -1) {
        val p = slot(keys(i), nk, nv)
        nk(p) = keys(i); nv(p) = vals(i)
      }
      i += 1
    }
    cap *= 2; keys = nk; vals = nv
  }
}

/** Minimal open-addressed Long→Long additive map (linear probing). */
private[stats] final class LongLongMap(initialCapacity: Int = 64) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16)) * 2
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  java.util.Arrays.fill(vals, -1L)
  private var n = 0

  private def slot(key: Long, ks: Array[Long], vs: Array[Long]): Int = {
    var h = key * -7046029254386353131L
    h ^= h >>> 32
    var p = (h & (ks.length - 1)).toInt
    while (vs(p) != -1L && ks(p) != key) p = (p + 1) & (ks.length - 1)
    p
  }

  def add(key: Long, by: Long): Unit = {
    val p = slot(key, keys, vals)
    if (vals(p) == -1L) {
      keys(p) = key; vals(p) = by; n += 1
      if (n * 4 > cap * 3) grow()
    } else vals(p) += by
  }

  def foreachEntry(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (vals(i) != -1L) f(keys(i), vals(i))
      i += 1
    }
  }

  private def grow(): Unit = {
    val nk = new Array[Long](cap * 2)
    val nv = new Array[Long](cap * 2)
    java.util.Arrays.fill(nv, -1L)
    var i = 0
    while (i < cap) {
      if (vals(i) != -1L) {
        val p = slot(keys(i), nk, nv)
        nk(p) = keys(i); nv(p) = vals(i)
      }
      i += 1
    }
    cap *= 2; keys = nk; vals = nv
  }
}

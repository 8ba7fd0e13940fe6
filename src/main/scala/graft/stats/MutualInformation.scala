package graft.stats

import org.apache.spark.ml.linalg.Vector

import scala.collection.mutable

/** Mutual information between two categorical variables, in nats.
  *
  * Semantics match the reference engine (see SURVEY.md §2 O4/O5, citing
  * `reference:src/main/scala/ifs/ml/stats/MutualInformation.scala:19-77`):
  *   - natural log (nats), `MI = Σ pxy · ln(pxy / (px·py))`
  *   - zero-count cells are skipped (the `pxy > 0` guard)
  *   - the vector form is sparse-aware: only positions where at least one of
  *     the two vectors is non-zero are touched; the (0,0) cell count is
  *     inferred as `size − touched` without iterating the zero-zero mass.
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

  /** MI of two equal-length categorical vectors, sparse-aware.
    * Only indices where a(i) != 0 or b(i) != 0 contribute individually; the
    * (0,0) cell count is inferred as `size − touched`. Equivalent to a full
    * dense contingency build.
    *
    * Hot path of the alternate-encoding selection (runs once per candidate
    * per round on instance-length vectors), so it is allocation-free per
    * element: per-side level dictionaries and the pair-count table are
    * primitive open-addressed maps keyed on the raw double bit patterns —
    * ~20 ns/element instead of the ~µs of a boxed-tuple map.
    */
  def fromVectors(a: Vector, b: Vector): Double = {
    require(a.size == b.size,
      s"vectors must have equal length (${a.size} != ${b.size})")
    val n = a.size
    if (n == 0) return 0.0
    val da = a.toDense.values
    val db = b.toDense.values
    val dictA = new LongIntMap
    val dictB = new LongIntMap
    val counts = new LongLongMap
    var touched = 0L
    var i = 0
    while (i < n) {
      val av = da(i); val bv = db(i)
      if (av != 0.0 || bv != 0.0) {
        // a ±0.0 paired with a non-zero value is the zero level, keyed 0L
        // (the bits of 0.0), never the bits of -0.0
        val ia = dictA.getOrInsert(
          if (av == 0.0) 0L else java.lang.Double.doubleToLongBits(av))
        val ib = dictB.getOrInsert(
          if (bv == 0.0) 0L else java.lang.Double.doubleToLongBits(bv))
        counts.add((ia.toLong << 32) | ib.toLong, 1L)
        touched += 1
      }
      i += 1
    }
    val zz = n - touched
    if (zz > 0) {
      val ia = dictA.getOrInsert(0L)
      val ib = dictB.getOrInsert(0L)
      counts.add((ia.toLong << 32) | ib.toLong, zz)
    }
    fold(counts, dictA.size, dictB.size)._1
  }
}

/** Minimal open-addressed Long→Int map (linear probing, power-of-two
  * capacity). `getOrInsert` assigns dense ids 0..size-1 in first-seen
  * order. Not thread-safe; built for the MI hot loop.
  */
private[stats] final class LongIntMap(initialCapacity: Int = 32) {
  private var cap = Integer.highestOneBit(math.max(initialCapacity, 16)) * 2
  private var keys = new Array[Long](cap)
  private var vals = new Array[Int](cap)
  java.util.Arrays.fill(vals, -1)
  private var n = 0

  def size: Int = n

  private def slot(key: Long, ks: Array[Long], vs: Array[Int]): Int = {
    var h = key * -7046029254386353131L
    h ^= h >>> 32
    var p = (h & (ks.length - 1)).toInt
    while (vs(p) != -1 && ks(p) != key) p = (p + 1) & (ks.length - 1)
    p
  }

  def getOrInsert(key: Long): Int = {
    val p = slot(key, keys, vals)
    if (vals(p) != -1) return vals(p)
    keys(p) = key; vals(p) = n; n += 1
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

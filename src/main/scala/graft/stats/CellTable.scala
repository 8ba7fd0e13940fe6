package graft.stats

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters

/** Receives one (key, xBits, yBits, count) cell of a [[CellTable]]. */
private[graft] trait CellSink {
  def cell(key: Long, xBits: Long, yBits: Long, count: Long): Unit
}

/** Exact co-occurrence counts keyed (key, xBits, yBits) — the one
  * contingency-count format behind every MI and chi² term: the cells that
  * [[Coded.count]] emits for the conventional pairs (key = pair index),
  * the blocked alternate encoding (key = feature id) and the vector MI
  * (key 0), and the `MIAggregate` buffer (key 0).
  *
  * A table is a plain `Array[Long]`, so Spark encodes it natively as an
  * aggregation buffer (ArrayType(Long), no Kryo). Index 0 holds the
  * occupied-slot count, so the load check is O(1) per insertion; then come
  * open-addressed 4-long slots [key, xBits, yBits, count], count == 0
  * marking an empty slot (real counts are always ≥ 1). Levels are keyed on
  * raw `doubleToLongBits` patterns — exact keys, no boxing — so NaN,
  * [[NullBits]] and ±0.0 stay distinct cells ([[foldTable]] merges ±0.0
  * exactly as Spark's float normalization would). Capacity is
  * bounded by distinct cells, never by row count. `add` mutates the table
  * in place and returns it, reallocated when it grows.
  */
private[graft] object CellTable {

  /** NULL counted as a level: a non-canonical NaN bit pattern that
    * `doubleToLongBits` can never produce.
    */
  val NullBits = 0x7ff8000000000001L

  /** Distinct cells a [[CellCounter]] holds before it emits them and
    * restarts; [[foldByKey]]'s merge re-sums the duplicates.
    */
  val FlushCap: Int = 1 << 20

  /** Cells a capped [[CellCounter]] may emit: the blocked pass's, the one
    * counting pass with no per-column level bound. Millions of distinct
    * cells in one partition there mean some feature's cardinality is far
    * past any usable maxCategories, so the contract error is raised
    * before the shuffle can grow without bound.
    */
  val MaxEmitted: Int = 4 << 20

  private final val Slot = 4
  private final val InitialSlots = 16 // power of two

  /** `doubleToLongBits` of element `i`, or [[NullBits]] when it is null. */
  def bitsAt(g: SpecializedGetters, i: Int): Long =
    if (g.isNullAt(i)) NullBits
    else java.lang.Double.doubleToLongBits(g.getDouble(i))

  def size(t: Array[Long]): Long = if (t.length == 0) 0L else t(0)

  /** Add `c` (≥ 1) to the (key, xBits, yBits) cell. */
  def add(t0: Array[Long], key: Long, xBits: Long, yBits: Long,
          c: Long): Array[Long] = {
    val t = if (t0.length == 0) new Array[Long](1 + InitialSlots * Slot)
            else t0
    val mask = (t.length - 1) / Slot - 1
    var h = key * 0x9e3779b97f4a7c15L + xBits
    h = (h ^ (h >>> 31)) * 0xbf58476d1ce4e5b9L + yBits
    h = (h ^ (h >>> 30)) * 0x94d049bb133111ebL
    var b = 1 + ((h ^ (h >>> 31)).toInt & mask) * Slot
    while (t(b + 3) != 0L &&
        !(t(b) == key && t(b + 1) == xBits && t(b + 2) == yBits))
      b = if (b + Slot < t.length) b + Slot else 1
    if (t(b + 3) != 0L) { t(b + 3) += c; t }
    else if ((t(0) + 1) * 5 > (mask + 1) * 3L) // keep load ≤ 0.6
      add(grow(t), key, xBits, yBits, c)
    else {
      t(b) = key; t(b + 1) = xBits; t(b + 2) = yBits; t(b + 3) = c
      t(0) += 1
      t
    }
  }

  private def grow(t: Array[Long]): Array[Long] = {
    var nt = new Array[Long](1 + (t.length - 1) * 2)
    foreach(t)((k, x, y, c) => nt = add(nt, k, x, y, c))
    nt
  }

  def foreach(t: Array[Long])(sink: CellSink): Unit = {
    var b = 1
    while (b < t.length) {
      if (t(b + 3) != 0L) sink.cell(t(b), t(b + 1), t(b + 2), t(b + 3))
      b += Slot
    }
  }

  /** Sum of two tables; folds the smaller into the larger, in place. */
  def merge(t1: Array[Long], t2: Array[Long]): Array[Long] = {
    val (small, large) = if (t1.length < t2.length) (t1, t2) else (t2, t1)
    var acc = large
    foreach(small)((k, x, y, c) => acc = add(acc, k, x, y, c))
    acc
  }

  /** Count one partition of a Spark counting pass: `read` feeds each input
    * record's cells to the counter, and the cells of every flush leave as
    * one (key, table) chunk per key — lazily, so the partition holds at
    * most one flush's cells besides the counter. `capped` names a pass
    * whose counter is held to [[MaxEmitted]] cells (see [[CellCounter]]).
    */
  def countPartition[T](rows: Iterator[T], capped: Option[String])(
      read: (T, CellCounter) => Unit)
  : Iterator[(Long, Array[Long])] = {
    val chunks = scala.collection.mutable.LongMap.empty[Array[Long]]
    val counter = new CellCounter(capped, (k, x, y, c) =>
      chunks(k) = add(chunks.getOrElse(k, Array.emptyLongArray), k, x, y, c))
    Iterator.unfold(false) { done =>
      if (done) None
      else {
        while (chunks.isEmpty && rows.hasNext) read(rows.next(), counter)
        val last = !rows.hasNext
        if (last) counter.flush()
        val out = chunks.toArray
        chunks.clear()
        Some((out, last))
      }
    }.flatten
  }

  /** Merge every key's chunks (one shuffle, min(`keys`, default
    * parallelism) wide) and fold each merged table on the executors with
    * [[foldTable]]: one job, and the driver receives one
    * (mi, chi², lx, ly, n) per key, never a table.
    */
  def foldByKey(chunks: RDD[(Long, Array[Long])], keys: Int)
  : Array[(Long, (Double, Double, Long, Long, Long))] = {
    val width = math.max(1,
      math.min(keys, chunks.sparkContext.defaultParallelism))
    chunks.reduceByKey(new HashPartitioner(width), merge _)
      .mapValues(foldTable)
      .collect()
  }

  /** (mi in nats, Pearson chi², lx, ly, n) of one key's cells, keys
    * ignored: ±0.0 fold into one level, NaN is one level, and NULL
    * ([[NullBits]]) is its own level in MI and chi² but is not counted in
    * `lx`/`ly` (SQL `count(DISTINCT)` semantics).
    */
  def foldTable(t: Array[Long]): (Double, Double, Long, Long, Long) = {
    val dictX = new LongIntMap
    val dictY = new LongIntMap
    val cells = new LongLongMap
    var nullX = 0
    var nullY = 0
    foreach(t) { (_, x, y, c) =>
      if (x == NullBits) nullX = 1
      if (y == NullBits) nullY = 1
      val ix = dictX.getOrInsert(if (x == NegZeroBits) 0L else x)
      val iy = dictY.getOrInsert(if (y == NegZeroBits) 0L else y)
      cells.add((ix.toLong << 32) | iy.toLong, c)
    }
    val (mi, chi2, n) = MutualInformation.fold(cells, dictX.size, dictY.size)
    (mi, chi2, dictX.size - nullX, dictY.size - nullY, n)
  }

  private final val NegZeroBits = java.lang.Double.doubleToLongBits(-0.0)
}

/** One partition's [[CellTable]]: sums cells as they come and, at
  * [[CellTable.FlushCap]] distinct cells, emits them to `sink` and restarts,
  * so memory stays bounded for pathological (continuous-valued) inputs
  * without a separate fallback path. A `capped` counter (the blocked pass,
  * named in the error) raises the maxCategories contract error past
  * [[CellTable.MaxEmitted]] emitted cells; the conventional pass bounds
  * each column's levels before it counts, so it runs uncapped at any
  * width. Call [[flush]] once after the last record.
  */
private[graft] final class CellCounter(capped: Option[String],
                                       sink: CellSink) extends CellSink {
  private var table = Array.emptyLongArray
  private var emitted = 0L

  def cell(key: Long, xBits: Long, yBits: Long, count: Long): Unit = {
    table = CellTable.add(table, key, xBits, yBits, count)
    if (table(0) >= CellTable.FlushCap) flush()
  }

  def flush(): Unit = {
    CellTable.foreach(table)(sink)
    emitted += CellTable.size(table)
    java.util.Arrays.fill(table, 0L)
    capped.filter(_ => emitted > CellTable.MaxEmitted).foreach { what =>
      throw new IllegalArgumentException(
        s"$what contingency exceeded ${CellTable.MaxEmitted} distinct " +
          "cells in one partition — a column's cardinality is far above " +
          "any usable maxCategories (discretize it first)")
    }
  }
}

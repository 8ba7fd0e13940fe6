package graft.feature

import graft.stats.{CellTable, Coded, CodedRows, MRMR, MutualInformation,
  RowMRMR, RowScore, SelectionScore}
import org.apache.spark.{HashPartitioner, SparkException}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** Candidate state for the vector alternate encoding: one record per
  * feature, carrying its coded value vector ([[Coded.ofVector]]) plus the
  * incrementally-accumulated mRMR terms.
  */
private[feature] case class RowCandidate(id: Long, codes: Array[Coded],
                                         rel: Double, redSum: Double)

/** One slice of a block in [[IterativeFeatureSelection.selectRowsBlocked]]'s
  * shuffle: instances [s·width, (s+1)·width) of block `bid` of the label
  * or of feature `id`, coded (null for a null block); `len` is the whole
  * block's length.
  */
private[feature] case class BlockSlice(label: Boolean, id: Long, bid: Long,
                                       s: Int, len: Int, values: Coded)

/** Greedy iterative feature selection (IFS) with the mRMR criterion, in both
  * physical layouts of the data matrix.
  *
  * Re-expression of the reference algorithm
  * (`reference:src/main/scala/ifs/ml/feature/IterativeFeatureSelection.scala`)
  * in idiomatic Spark SQL. Differences are physical, never semantic:
  *
  *   - Pair counting (reference `:65-97`, an RDD `countByValue` per
  *     1000-column batch that collects every distinct tuple to the driver)
  *     codes each column once per fit ([[graft.stats.Coded]]), counts
  *     pairs of codes per partition ([[pairCellCounts]]) and folds each
  *     pair to MI on the executors after ONE `reduceByKey`: one job per
  *     round at any width, driver memory O(features), not O(features ·
  *     levels²).
  *   - MI terms are memoized across rounds (reference recomputes every round
  *     from scratch, SURVEY.md §2.4 Q5): round 0 computes MI(cand, label)
  *     for every candidate; round r>0 computes only MI(cand, s_{r-1}) against
  *     the newest selected feature. Identical results, k× less work.
  *   - Ties break toward the lowest feature index/id (documented deviation
  *     from the reference's hash-order ties, SURVEY.md §2.4 Q1).
  *   - The alternate encodings run about one job per round (reference
  *     re-scans the source 3× per round, `:151-185`): the vector path
  *     caches its candidates, and the blocked path shuffles the matrix
  *     once, in slices of each block.
  *   - Alternate-encoding ids stay Long end-to-end (fixes the reference's
  *     Int truncation, SURVEY.md §2.4 Q6).
  */
object IterativeFeatureSelection {

  /** Max distinct levels per column, same default as the reference's guard
    * (`reference:IterativeFeatureSelection.scala:57`).
    */
  val DefaultMaxCategories = 10000

  /** Max instance count (= per-feature vector width) accepted by the
    * vector alternate encoding, whose records hold EVERY instance's value
    * (SURVEY.md §1.1): 10M instances ≈ 80 MB per feature vector, near the
    * ceiling for one record plus its broadcast label twin. The guard turns
    * the otherwise-certain executor OOM into one driver-side error, as
    * maxCategories does.
    */
  val DefaultMaxInstances = 10000000

  /** Conventional encoding: instances are rows, features are columns.
    * One coding job, then one counting job per round at any width, or one
    * for the whole pair table when it holds no more pairs than the k
    * rounds would count.
    *
    * @param df          input with a numeric label column and a VectorType
    *                    features column
    * @param num         number of features to select (clamped to the vector
    *                    width, reference `:30-31`)
    * @return            selected (featureIndex, scoreAtSelectionTime) in
    *                    selection order
    */
  def selectColumns(df: DataFrame, labelCol: String, featuresCol: String,
                    num: Int, score: SelectionScore = MRMR,
                    maxCategories: Int = DefaultMaxCategories)
  : Seq[(Int, Double)] = {
    val data = df.select(
      col(labelCol).cast(DoubleType).as("label"),
      vector_to_array(col(featuresCol), "float64").as("f"))
    // Coded once per fit, a quarter of the doubles' size; rounds count it.
    val coded = codeMatrix(data).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // The coding job: the widest row is the width, so a short row's
      // missing positions count as NULL, and an empty input selects none.
      val numCols = coded.map(_.width).fold(0)(math.max)
      val k = math.min(num, numCols)
      // (cand, other) -> MI; other = -1 encodes the label column. MI is
      // symmetric: one value serves (i,j) and (j,i).
      val memo = mutable.Map.empty[(Int, Int), Double]
      def count(pairs: Seq[(Int, Int)]): Unit = if (pairs.nonEmpty)
        pairStats(data, pairs, maxCategories, coded).foreach {
          case ((i, j), st) => memo((i, j)) = st._1; memo((j, i)) = st._1
        }
      // All-pairs fast path: when the FULL pair table (each candidate vs
      // the label and every unordered feature pair, numCols·(numCols+1)/2
      // pairs) holds no more pairs than k rounds over numCols candidates,
      // i.e. numCols < 2k, count it in one job; the rounds then count none.
      if (numCols < 2 * k) count((0 until numCols).map((_, -1)) ++
        (for (j <- 0 until numCols; i <- j + 1 until numCols) yield (i, j)))
      val selected = mutable.ArrayBuffer.empty[(Int, Double)]
      while (selected.size < k) {
        val selIdx = selected.map(_._1).toSeq
        val cands = (0 until numCols).filterNot(selIdx.contains)
        val newest = if (selected.isEmpty) -1 else selIdx.last
        count(cands.filterNot(c => memo.contains((c, newest))).map((_, newest)))
        val scored = cands.map { c =>
          c -> score.score(memo((c, -1)), selIdx.map(s => memo((c, s))))
        }
        val best =
          if (score.higherIsBetter) scored.minBy { case (c, s) => (-s, c) }
          else scored.minBy { case (c, s) => (s, c) }
        selected += best
      }
      selected.toSeq
    } finally { coded.unpersist(); () }
  }

  /** Session-lifetime statistics cache for [[pairStats]]: each pair's
    * fused (mi, chi2, lx, ly, n) tuple, keyed by the input relation's
    * [[graft.ops.PlanKey]] (absent when the plan does not identify the
    * contents; see its scaladoc for staleness and collisions) and the
    * pair. A later request pays one counting job for its uncached pairs
    * only — sound because [[pairStatsFused]] rounds to 12 decimals, so
    * job composition cannot change a value. Statistics, not cached
    * data: a fit over a matrix another query already profiled (a chi2
    * query after an MI profile) repeats no corpus-scale counting.
    */
  private val pairStatsCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), scala.collection.concurrent.TrieMap[(Int, Int),
      (Double, Double, Long, Long, Long)]]

  /** The (label, f) matrix `data` as [[graft.stats.CodedRows]] chunks,
    * coded per partition in one pass. The CPU-bound counting must not run
    * at whatever split count the scan produced: a small input is one
    * parquet split, counted on ONE core (measured 5 s versus 0.7 s spread
    * over the machine), so it is spread first. A multi-TB scan already
    * has ≥ cores splits and skips this shuffle.
    */
  private[graft] def codeMatrix(data: DataFrame): RDD[CodedRows] = {
    val par = data.sparkSession.sparkContext.defaultParallelism
    val src =
      if (data.rdd.getNumPartitions < par) data.repartition(par) else data
    src.select(col("label").cast("double"), col("f").cast("array<double>"))
      .queryExecution.toRdd
      .mapPartitions(CodedRows.chunks(_))
  }

  /** Per-pair contingency tables over one pass of `coded`, as (pair index
    * into `pairs`, [[graft.stats.CellTable]] chunk) records — the counting
    * stage of [[pairStatsFused]]. Per chunk, each pair's two coded columns
    * count into a dense lx × ly table ([[graft.stats.Coded.count]]), whose
    * non-zero cells go to a [[graft.stats.CellCounter]]; its flush-on-full
    * bounds memory. NULL values (and positions past a short array) count
    * as their own level, as a SQL group key would. A chunk column past
    * `maxCategories` non-NULL levels raises before its pair counts, so
    * every column's cells stay bounded and the pass needs no cell cap.
    */
  private[graft] def pairCellCounts(coded: RDD[CodedRows],
                                    pairs: Seq[(Int, Int)],
                                    maxCategories: Int)
  : RDD[(Long, Array[Long])] = {
    val ps = pairs.toArray
    coded.mapPartitions(CellTable.countPartition(_, None) { (m, counter) =>
      var p = 0
      while (p < ps.length) {
        val (c, o) = ps(p)
        val x = m.col(c)
        val n = x.levels.count(_ != CellTable.NullBits)
        if (n > maxCategories) throw tooManyLevels(c, n, maxCategories)
        Coded.count(x, if (o < 0) m.label else m.col(o), p, counter)
        p += 1
      }
    })
  }

  private def round12(v: Double): Double = math.rint(v * 1e12) / 1e12

  private def tooManyLevels(c: Int, levels: Long, maxCategories: Int) =
    new IllegalArgumentException(s"column $c has $levels distinct values, " +
      s"more than maxCategories = $maxCategories")

  /** One FUSED counting job: [[pairCellCounts]] → one `reduceByKey` of
    * the per-pair tables → one executor-side fold per pair
    * ([[graft.stats.CellTable.foldByKey]]) yielding MI and chi2 from the
    * same table, at ~no cost over counting alone, so whichever family runs
    * second is served by [[pairStats]]' cache. The driver receives |pairs|
    * scalar tuples; both values round to 12 decimals. A column past
    * `maxCategories` in one chunk fails the counting task (its cause is
    * rethrown); across chunks, the check after the fold raises.
    *
    * @return per pair: (mi, chi2, lx, ly, n)
    */
  private def pairStatsFused(coded: RDD[CodedRows], pairs: Seq[(Int, Int)],
                             maxCategories: Int)
  : Map[(Int, Int), (Double, Double, Long, Long, Long)] = {
    val ps = pairs.toIndexedSeq
    val counts = pairCellCounts(coded, ps, maxCategories)
    val folded = try CellTable.foldByKey(counts, ps.size) catch {
      case e: SparkException => throw (e.getCause match {
        case c: IllegalArgumentException => c
        case _ => e
      })
    }
    folded.foreach { case (p, (_, _, levels, _, _)) =>
      if (levels > maxCategories)
        throw tooManyLevels(ps(p.toInt)._1, levels, maxCategories)
    }
    // Round to 12 decimals: the fold's summation order varies with which
    // OTHER pairs share the job and with partitioning, drifting results
    // by ~1e-15 — enough to flip the argmax on mathematically-tied scores
    // and make the SELECTED SET depend on whether the all-pairs fast path
    // or the rounds counted a pair. 12 decimals is far
    // above the drift and below any real MI gap (MI ≤ ln(levels), well
    // inside exact double range), so every path sees identical values.
    folded.map { case (p, (mi, chi2, lx, ly, n)) =>
      ps(p.toInt) -> ((round12(mi), round12(chi2), lx, ly, n))
    }.toMap
  }

  /** Fused (mi, chi2, lx, ly, n) per pair: served from
    * [[pairStatsCache]] where cached, one [[pairStatsFused]] job over
    * `coded` (built only then) for the rest.
    */
  private def pairStats(data: DataFrame, allPairs: Seq[(Int, Int)],
                        maxCategories: Int, coded: => RDD[CodedRows])
  : Map[(Int, Int), (Double, Double, Long, Long, Long)] = {
    val planCache = graft.ops.PlanKey.of(data)
      .map(k => pairStatsCache.getOrElseUpdate((k, maxCategories),
        scala.collection.concurrent.TrieMap.empty))
    val cached = planCache.fold(
      Map.empty[(Int, Int), (Double, Double, Long, Long, Long)])(pc =>
      allPairs.flatMap(p => pc.get(p).map(p -> _)).toMap)
    val pairs = allPairs.filterNot(cached.contains)
    if (pairs.isEmpty) return cached
    val stats = pairStatsFused(coded, pairs, maxCategories)
    planCache.foreach(_ ++= stats)
    cached ++ stats
  }

  /** One distributed job (none when every pair is cached): MI for an
    * arbitrary list of (cand, other) column pairs (`other == -1` is the
    * label column), coding `data` on the fly.
    */
  private[graft] def pairMIMulti(data: DataFrame, allPairs: Seq[(Int, Int)],
                                 maxCategories: Int)
  : Map[(Int, Int), Double] =
    pairStats(data, allPairs, maxCategories, codeMatrix(data))
      .map { case (p, s) => p -> s._1 }

  /** One distributed job (none when every pair is cached): Pearson
    * chi-square for an arbitrary list of (cand, other) column pairs
    * (`other == -1` is the label column) — sklearn's chi2 / SelectKBest
    * shape — from the same fused pass as [[pairMIMulti]].
    *
    * @return per pair: (chi2, distinct levels of cand, distinct levels of
    *         other, total count n) — enough for the caller to derive
    *         degrees of freedom `(lx−1)(ly−1)` and Cramér's V
    *         `sqrt(chi2 / (n · min(lx−1, ly−1)))` without another job.
    */
  private[graft] def pairChi2Multi(data: DataFrame, allPairs: Seq[(Int, Int)],
                                   maxCategories: Int)
  : Map[(Int, Int), (Double, Long, Long, Long)] =
    pairStats(data, allPairs, maxCategories, codeMatrix(data)).map {
      case (p, (_, chi2, lx, ly, n)) => p -> ((chi2, lx, ly, n))
    }

  /** Block-partitioned alternate encoding — the scale-free spelling of
    * [[selectRows]]. The matrix is stored as (featureId, blockId,
    * values[block]) records: the instance axis is TILED into blocks, so no
    * record is ever wider than one block and per-record memory is O(block),
    * not O(instances) — the layout [[selectRows]]' `maxInstances` fence
    * exists to protect against simply does not arise. Labels arrive the
    * same way (`labelBlocks`: one (blockId, values) record per block), as
    * DATA rather than a driver-side vector, so the driver never holds the
    * instance axis either.
    *
    * Blocking contract: for every feature, the set of blockIds must equal
    * the label's, the label tiling holds each blockId once, and a feature
    * block must have exactly the label block's length — position i of a
    * feature block pairs with position i of the label block (MI is
    * instance-order invariant, so ANY consistent tiling works; a
    * scan-partition tiling needs no sort at all). Violations raise with
    * the offending id or blockId rather than silently computing MI over a
    * subset.
    *
    * Physical plan per selection: feature and label blocks are cut into
    * slices of [[SliceWidth]] instances, each slice is coded on the map
    * side ([[graft.stats.Coded]]: 16-bit level codes), and the coded
    * slices are shuffled ONCE, each (blockId, slice) to one partition.
    * Each round is one job over that shuffle's output ([[blockedRound]]).
    * Slices of one block land on different partitions, so a round counts
    * on all cores even when the matrix is one block. The driver receives
    * O(features) doubles per round — never a vector, never a contingency
    * matrix. Same math as [[MutualInformation.fromVectors]], same
    * memoized-redundancy greedy loop, same (score desc, id asc) ties.
    *
    * @param blocks      blocked matrix: idCol (feature id, integral),
    *                    blockCol (block id, integral), valuesCol
    *                    (array&lt;double&gt;)
    * @param labelBlocks label row in the same tiling: blockCol + valuesCol
    * @return            selected (featureId, scoreAtSelectionTime) in
    *                    selection order — identical to [[selectRows]] on
    *                    the same matrix
    */
  def selectRowsBlocked(blocks: DataFrame, idCol: String, blockCol: String,
                        valuesCol: String, labelBlocks: DataFrame,
                        num: Int): Seq[(Long, Double)] =
    selectRowsBlocked(blocks, idCol, blockCol, valuesCol, labelBlocks, num,
      SliceWidth)

  /** Instances per shuffled slice of a block in [[selectRowsBlocked]]:
    * 8 KB of values, so the slice's row header is noise, while a 10,000
    * instance matrix still spreads over 10 slices.
    */
  private[feature] final val SliceWidth = 1024

  private[feature] def selectRowsBlocked(blocks: DataFrame, idCol: String,
                                         blockCol: String, valuesCol: String,
                                         labelBlocks: DataFrame, num: Int,
                                         sliceWidth: Int)
  : Seq[(Long, Double)] = {
    // NO second heap residency of the matrix (r13, the sf10 lesson):
    // .cache()'s columnar builder buffers 10k multi-MB rows per batch, and
    // Dataset.checkpoint's row copies allocate outside the memory manager
    // while the caller's pinned fixture holds the storage budget. The one
    // copy here is the slice shuffle's output, coded, in shuffle files on
    // disk, re-read by every round. Rows are (label?, id, bid, slice, block
    // length, values[slice]): the label blocks reserve no feature id, and
    // a null or empty block is one slice, so round 0 still checks it.
    val values = col(valuesCol).cast("array<double>")
    def sliced(df: DataFrame, label: Boolean, id: Column) = df
      .select(lit(label).as("l"), id.cast(LongType).as("id"),
        col(blockCol).cast(LongType).as("bid"), values.as("v"),
        explode(when(values.isNull || size(values) === 0, array(lit(0)))
          .otherwise(sequence(lit(0),
            floor((size(values) - 1) / sliceWidth).cast("int")))).as("s"))
      .select(col("l"), col("id"), col("bid"), col("s"),
        when(col("v").isNull, lit(0)).otherwise(size(col("v"))),
        slice(col("v"), col("s") * sliceWidth + 1, lit(sliceWidth)))
    val parts = blocks.sparkSession.sparkContext.defaultParallelism
    val bySlice = sliced(blocks, label = false, col(idCol))
      .union(sliced(labelBlocks, label = true, lit(0L)))
      .queryExecution.toRdd
      .map { r =>
        require(!r.isNullAt(1) && !r.isNullAt(2),
          "blocked alternate encoding: a block has a null id or block id")
        // consecutive slices of a block on consecutive partitions
        (Math.floorMod(r.getLong(2) + r.getInt(3), parts.toLong).toInt,
          BlockSlice(r.getBoolean(0), r.getLong(1), r.getLong(2), r.getInt(3),
            r.getInt(4), if (r.isNullAt(5)) null else Coded.of(r.getArray(5))))
      }
      .partitionBy(new HashPartitioner(parts))
    // Round 0: MI(feature, label) for every feature, and the tiling
    // report. An empty label tiling (e.g. a wrong label row id) makes
    // every feature block look stray, so it is named first.
    val (relRows, report) = blockedRound(bySlice, None, Set.empty)
    var labelBlockCount = 0L
    var nInstances = 0L
    val strays = mutable.ArrayBuffer.empty[(Long, Long)]
    report.foreach(t => CellTable.foreach(t) { (what, x, y, _) =>
      if (what == LabelCell) { labelBlockCount += 1; nInstances += y }
      else strays += ((x, y))
    })
    require(labelBlockCount > 0,
      "blocked alternate encoding: the label tiling is empty (no label " +
        "blocks — check the label row id)")
    strays.minOption.foreach { case (id, bid) =>
      throw new IllegalArgumentException(
        s"blocked alternate encoding: feature $id carries stray block " +
          s"$bid absent from the label tiling — feature and label " +
          "tilings must be identical")
    }
    relRows.foreach { case (id, (_, n)) =>
      require(n == nInstances,
        s"blocked alternate encoding: feature $id covers $n instances " +
          s"but the label row has $nInstances — missing or ragged blocks")
    }
    val rel = relRows.map { case (id, (mi, _)) => id -> mi }.toMap
    val k = math.min(num.toLong, rel.size.toLong).toInt
    val redSum = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
    val selected = mutable.ArrayBuffer.empty[(Long, Double)]
    val remaining = mutable.Set.empty[Long] ++ rel.keys
    while (selected.size < k) {
      val sSize = selected.size
      val (wid, wscore) = remaining.iterator
        .map(id => (id,
          if (sSize == 0) rel(id) else rel(id) - redSum(id) / sSize))
        .reduce(better)
      selected += ((wid, wscore))
      remaining -= wid
      if (selected.size < k) {
        // MI(candidate, winner) for every remaining candidate: the
        // winner's slices are the side of the same counting pass.
        blockedRound(bySlice, Some(wid), selected.map(_._1).toSet)._1
          .foreach { case (id, (mi, _)) => redSum(id) = redSum(id) + mi }
      }
    }
    selected.toSeq
  }

  // Cells of the blocked round-0 tiling report: (LabelCell, bid, length)
  // per label block, (StrayCell, id, bid) per stray feature block.
  private final val LabelCell = 0L
  private final val StrayCell = 1L

  /** One selection round of [[selectRowsBlocked]], one job over the slice
    * shuffle `bySlice`. Per partition, a first pass keeps the SIDE slices
    * by (bid, slice) — the label's (`winner` = None) or the winner's, a
    * 1/features fraction of the partition — and a second counts the codes
    * of every feature outside `skip` against them, as [[pairCellCounts]]
    * does. The per-id tables merge in one `reduceByKey` and fold on the
    * executors. Returns 12-decimal-rounded MI (as in [[pairStatsFused]])
    * and n per id, and in round 0 the tiling report, tables keyed None. A
    * repeated side block, a null array or a length mismatch raises here.
    */
  private def blockedRound(bySlice: RDD[(Int, BlockSlice)],
                           winner: Option[Long], skip: Set[Long])
  : (Seq[(Long, (Double, Long))], Seq[Array[Long]]) = {
    val sideName = winner.fold("the label tiling")(w => s"feature $w")
    val chunks = bySlice.zipPartitions(bySlice) { (first, second) =>
      val side = mutable.HashMap.empty[(Long, Int), BlockSlice]
      var report = Array.emptyLongArray
      var strays = 0
      first.foreach { case (_, y) =>
        if (winner.fold(y.label)(w => !y.label && y.id == w)) {
          if (side.contains((y.bid, y.s)))
            throw new IllegalArgumentException(
              s"blocked alternate encoding: $sideName repeats block " +
                s"${y.bid} — feature and label tilings must be identical")
          side((y.bid, y.s)) = y
          if (y.label && y.s == 0)
            report = CellTable.add(report, LabelCell, y.bid, y.len, 1L)
        }
      }
      val rows = second.map(_._2)
      val tables = CellTable.countPartition(rows, Some("blocked")) {
        (x, counter) =>
          if (!x.label && !skip(x.id)) side.get((x.bid, x.s)) match {
            case None if winner.isEmpty => // a few strays name the error
              strays += 1
              if (strays <= 64)
                report = CellTable.add(report, StrayCell, x.id, x.bid, 1L)
            case None => throw new IllegalArgumentException(
              s"blocked alternate encoding: feature ${x.id} has block " +
                s"${x.bid}, which $sideName lacks — missing or ragged blocks")
            case Some(y) =>
              if (x.values == null || y.values == null)
                throw new IllegalArgumentException(
                  s"blocked alternate encoding: feature ${x.id} has a " +
                    "block whose feature or label values array is null — " +
                    "feature and label tilings must be identical")
              if (x.len != y.len) throw new IllegalArgumentException(
                s"blocked alternate encoding: feature ${x.id} has a block " +
                  s"of length ${x.len} where the label block has length " +
                  s"${y.len} — feature and label tilings must be identical")
              Coded.count(x.values, y.values, x.id, counter)
          }
      }
      tables.map { case (id, t) => (Option(id), t) } ++
        Iterator((None, report)).filter(_ => CellTable.size(report) > 0)
    }
    // NOT preservesPartitioning: the chunks are keyed by id, not by
    // partition, and a kept partitioner would let reduceByKey skip its
    // shuffle.
    chunks.reduceByKey(new HashPartitioner(bySlice.getNumPartitions),
        CellTable.merge _)
      .map[Either[(Long, (Double, Long)), Array[Long]]] {
        case (Some(id), t) =>
          val (mi, _, _, _, n) = CellTable.foldTable(t)
          Left(id -> ((round12(mi), n)))
        case (None, t) => Right(t)
      }
      .collect().toSeq.partitionMap(identity)
  }

  /** The alternate drivers' argmax: (score desc, id asc). */
  private def better(a: (Long, Double), b: (Long, Double)): (Long, Double) =
    if (a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)) a else b

  /** Alternate encoding: features are rows, instances are columns. Each
    * record is (featureId, valueVector); per-instance class labels arrive as
    * a driver-side vector (`labelsRow`), broadcast to executors.
    *
    * '''Scale contract''': this layout's record width IS the instance
    * count (SURVEY.md §1.1) — cost scales with the dataset per feature
    * vector, unlike [[selectColumns]] whose per-record cost is O(1). It is
    * the right encoding for many-features × bounded-instances matrices
    * (feature-row selection over profiling samples), and the wrong one
    * for instance counts past [[DefaultMaxInstances]] — there, use
    * [[selectRowsBlocked]], which computes the IDENTICAL selection from
    * (feature, block, values) records with O(block) record width and no
    * driver-side label vector. The mRMR fit reads each vector once, at
    * 8 bytes per instance, and caches it coded: 2 bytes per instance plus
    * 8 per distinct level in each 65,536-instance run. Callers insisting
    * on the vector layout at a wider shape must opt in explicitly via
    * `maxInstances` after sizing executor memory for ≥ 8·instances bytes
    * per record.
    *
    * @param maxInstances guard on `labelsRow.size` (the vector width);
    *                     exceeded → IllegalArgumentException instead of a
    *                     far-away executor OOM
    * @return selected (featureId, scoreAtSelectionTime) in selection order
    */
  def selectRows(df: DataFrame, idCol: String, featuresCol: String, num: Int,
                 labelsRow: Vector, score: RowScore = RowMRMR,
                 maxInstances: Int = DefaultMaxInstances)
  : Seq[(Long, Double)] = {
    require(labelsRow.size <= maxInstances,
      s"alternate-encoding matrix is ${labelsRow.size} instances wide; " +
        s"each feature record carries all of them (~${8L * labelsRow.size} " +
        s"bytes/vector), more than maxInstances = $maxInstances. " +
        "At this scale use the BLOCK-PARTITIONED alternate encoding " +
        "(selectRowsBlocked — same selection, O(block) records, labels as " +
        "data) or the conventional encoding (selectColumns); or raise " +
        "maxInstances explicitly after sizing executor memory.")
    score match {
      case RowMRMR => selectRowsIncremental(df, idCol, featuresCol, num,
        labelsRow)
      case s => selectRowsGeneric(df, idCol, featuresCol, num, labelsRow, s)
    }
  }

  /** Fast path for mRMR: relevance is computed once, and each round folds
    * only MI(candidate, newestSelected) into a running redundancy sum —
    * O(candidates) vector-MI evaluations per round instead of the
    * reference's O(candidates · |selected|). Every vector is coded once
    * ([[graft.stats.Coded.ofVector]]): the cached candidates carry codes,
    * and the label and each winner are coded once and broadcast, so a
    * round only counts codes ([[MutualInformation.fromCoded]]). Each MI
    * term is rounded to 12 decimals as in [[pairStatsFused]], so tied
    * candidates go to the lowest id here too, not to floating-point
    * noise. 2k − 1 jobs for k rounds: round 0's argmax also counts the
    * candidates (k comes from the same job), and every later round is the
    * winner's codes fetch plus one argmax that also materializes the newly
    * cached candidates.
    */
  private def selectRowsIncremental(df: DataFrame, idCol: String,
                                    featuresCol: String, num: Int,
                                    labelsRow: Vector)
  : Seq[(Long, Double)] = {
    val sc = df.sparkSession.sparkContext
    val bLabels = sc.broadcast(Coded.ofVector(labelsRow))
    // The per-round loop runs on the RDD API deliberately: through
    // Dataset/Catalyst each trivial round costs a full analyze/optimize/
    // encode cycle on the DRIVER — measured as the dominant, high-variance
    // cost of the whole selection. One DataFrame plan runs below (the
    // projection into the RDD); each round after it plans in O(1).
    var cands: RDD[RowCandidate] = df
      .select(col(idCol).cast(LongType).as("id"), col(featuresCol).as("vec"))
      .rdd
      .map { r =>
        val codes = Coded.ofVector(r.getAs[Vector](1))
        RowCandidate(r.getLong(0), codes,
          round12(MutualInformation.fromCoded(codes, bLabels.value)), 0.0)
      }.cache()
    // (candidates, winner by (score desc, id asc)) in ONE job — only
    // scalar (id, score) pairs travel, never an instance-length vector.
    def argmax(rdd: RDD[RowCandidate], sSize: Int) = rdd
      .map(c => (1L, Option((c.id,
        if (sSize == 0) c.rel else c.rel - c.redSum / sSize))))
      .fold((0L, None)) { case ((n1, a), (n2, b)) =>
        (n1 + n2, (a ++ b).reduceOption(better))
      }
    val (total, first) = argmax(cands, 0)
    var best = first
    val k = math.min(num.toLong, total).toInt
    val selected = mutable.ArrayBuffer.empty[(Long, Double)]
    while (selected.size < k) {
      val (wid, wscore) = best.get
      selected += ((wid, wscore))
      if (selected.size < k) {
        // one collect job: first() is take(1), which may scan twice
        val bWin = sc.broadcast(
          cands.filter(_.id == wid).map(_.codes).collect().head)
        val next = cands
          .filter(_.id != wid)
          .map(c => c.copy(
            redSum = c.redSum + round12(MutualInformation.fromCoded(
              c.codes, bWin.value))))
          .cache()
        best = argmax(next, selected.size)._2 // materializes next
        cands.unpersist()
        cands = next
      }
    }
    cands.unpersist()
    selected.toSeq
  }

  /** General path for user-supplied row scores: the reference's shape
    * (broadcast all selected vectors, score every candidate each round) with
    * the physical fixes — cached input, and the winner's id and score from
    * one reduce job and its vector from one collect job (`first()` is
    * `take(1)`, which may scan twice), fetched only while another round
    * follows: at most 2k jobs for k rounds.
    */
  private def selectRowsGeneric(df: DataFrame, idCol: String,
                                featuresCol: String, num: Int,
                                labelsRow: Vector, score: RowScore)
  : Seq[(Long, Double)] = {
    val sc = df.sparkSession.sparkContext
    val bLabels = sc.broadcast(labelsRow)
    // Same RDD-loop rationale as selectRowsIncremental.
    val data: org.apache.spark.rdd.RDD[(Long, Vector)] = df
      .select(col(idCol).cast(LongType).as("id"), col(featuresCol).as("vec"))
      .rdd
      .map(r => (r.getLong(0), r.getAs[Vector](1)))
      .cache()
    val k = math.min(num.toLong, data.count()).toInt
    val selected = mutable.ArrayBuffer.empty[(Long, Double)]
    val selectedVecs = mutable.ArrayBuffer.empty[Vector]
    // Lower-is-better scores are negated into the (score desc, id asc)
    // argmax and back; negation is exact, so ties and order are kept.
    val sign = if (score.higherIsBetter) 1.0 else -1.0
    while (selected.size < k) {
      val bSel = sc.broadcast(selectedVecs.toSeq)
      val selIds = selected.map(_._1).toSet
      val (wid, wscore) = data
        .filter { case (id, _) => !selIds.contains(id) }
        .map { case (id, v) =>
          (id, sign * score.score(v, bLabels.value, bSel.value))
        }
        .reduce(better)
      selected += ((wid, sign * wscore))
      if (selected.size < k)
        selectedVecs += data.filter(_._1 == wid).map(_._2).collect().head
    }
    data.unpersist()
    selected.toSeq
  }
}

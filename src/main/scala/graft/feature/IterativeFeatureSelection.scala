package graft.feature

import graft.stats.{CellTable, MRMR, MutualInformation, RowMRMR, RowScore,
  SelectionScore}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import scala.collection.mutable

/** Candidate state for the alternate (row-wise) encoding: one record per
  * feature, carrying its value vector across all instances plus the
  * incrementally-accumulated mRMR terms.
  */
case class RowCandidate(id: Long, vec: Vector, rel: Double, redSum: Double)

/** Greedy iterative feature selection (IFS) with the mRMR criterion, in both
  * physical layouts of the data matrix.
  *
  * Re-expression of the reference algorithm
  * (`reference:src/main/scala/ifs/ml/feature/IterativeFeatureSelection.scala`)
  * in idiomatic Spark SQL. Differences are physical, never semantic:
  *
  *   - Pair counting (reference `:65-97`, an RDD `mapPartitions` +
  *     `countByValue` that collects every distinct tuple to the driver)
  *     becomes a per-partition primitive contingency map
  *     ([[pairCellCounts]] — one InternalRow-level pass, no row
  *     expansion) whose per-pair table chunks merge in ONE `reduceByKey`
  *     and fold to MI on the executors ([[graft.stats.CellTable.foldByKey]]):
  *     one job per counting call. Only one MI value per (candidate, other)
  *     pair ever reaches the driver, so driver memory is O(features), not
  *     O(features · levels²) — the property that lets this run against
  *     100 TB inputs.
  *   - MI terms are memoized across rounds (reference recomputes every round
  *     from scratch, SURVEY.md §2.4 Q5): round 0 computes MI(cand, label)
  *     for every candidate; round r>0 computes only MI(cand, s_{r-1}) against
  *     the newest selected feature. Identical results, k× less work.
  *   - Ties break toward the lowest feature index/id (documented deviation
  *     from the reference's hash-order ties, SURVEY.md §2.4 Q1).
  *   - The alternate path caches its input and fetches the winner in the
  *     same job (reference re-scans the source 3× per round, `:151-185`).
  *   - Alternate-encoding ids stay Long end-to-end (fixes the reference's
  *     Int truncation, SURVEY.md §2.4 Q6).
  */
object IterativeFeatureSelection {

  /** Max distinct levels per column, same default as the reference's guard
    * (`reference:IterativeFeatureSelection.scala:57`).
    */
  val DefaultMaxCategories = 10000

  /** Columns per distributed counting job
    * (`reference:IterativeFeatureSelection.scala:57`).
    */
  val DefaultBatchSize = 1000

  /** Max instance count (= per-feature vector width) accepted by the
    * alternate encoding. The row layout stores EVERY instance's value in
    * one record per feature (the reference's own alternate input
    * contract, SURVEY.md §1.1), so per-record memory grows linearly with
    * the dataset: 10M instances ≈ 80 MB per feature vector — near the
    * practical ceiling for a single record plus its broadcast label twin.
    * Beyond that the encoding is the wrong tool (use [[selectColumns]],
    * whose memory is O(levels), not O(instances)); the guard turns the
    * otherwise-certain executor OOM into one clear driver-side error,
    * mirroring the maxCategories pattern.
    */
  val DefaultMaxInstances = 10000000

  /** Conventional encoding: instances are rows, features are columns.
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
                    batchSize: Int = DefaultBatchSize,
                    maxCategories: Int = DefaultMaxCategories)
  : Seq[(Int, Double)] = {
    val data = df.select(
      col(labelCol).cast(DoubleType).as("label"),
      vector_to_array(col(featuresCol), "float64").as("f")).cache()
    try {
      val numCols = data.select(size(col("f"))).head().getInt(0)
      val k = math.min(num, numCols)
      // (cand, other) -> MI; other = -1 encodes the label column.
      val memo = mutable.Map.empty[(Int, Int), Double]
      // Narrow-matrix fast path: when the FULL pair table (every candidate
      // vs label + every unordered feature pair) fits one counting job's
      // budget, compute it up front in a single scan — the greedy loop then
      // runs entirely on the driver against the memo, so selecting k
      // features costs 1 distributed job instead of k+1. MI is symmetric,
      // so one computed value serves both (i,j) directions. Wide matrices
      // (pairs > batchSize) keep the per-round batched jobs — at that shape
      // precomputing all O(cols²) pairs would dwarf the k·cols the greedy
      // rounds actually consume.
      if (numCols.toLong * (numCols + 1) / 2 <= batchSize) {
        val allPairs = (0 until numCols).map(c => (c, -1)) ++
          (for { j <- 0 until numCols; i <- (j + 1) until numCols }
            yield (i, j))
        pairMIMulti(data, allPairs, maxCategories).foreach {
          case ((i, j), v) =>
            memo((i, j)) = v
            if (j >= 0) memo((j, i)) = v
        }
      }
      val selected = mutable.ArrayBuffer.empty[(Int, Double)]
      while (selected.size < k) {
        val selIdx = selected.map(_._1).toSeq
        val cands = (0 until numCols).filterNot(selIdx.contains)
        val newest = if (selected.isEmpty) -1 else selIdx.last
        val missing = cands.filterNot(c => memo.contains((c, newest)))
        missing.grouped(batchSize).foreach { batch =>
          pairMI(data, batch, newest, maxCategories).foreach {
            case (c, mi) => memo((c, newest)) = mi
          }
        }
        val scored = cands.map { c =>
          c -> score.score(memo((c, -1)), selIdx.map(s => memo((c, s))))
        }
        val best =
          if (score.higherIsBetter) scored.minBy { case (c, s) => (-s, c) }
          else scored.minBy { case (c, s) => (s, c) }
        selected += best
      }
      selected.toSeq
    } finally { data.unpersist(); () }
  }

  /** One distributed job: MI(cand, other) for every candidate in `batch`.
    * `other == -1` means the label column. Thin wrapper over [[pairMIMulti]].
    */
  private[graft] def pairMI(data: DataFrame, batch: Seq[Int], other: Int,
                            maxCategories: Int): Map[Int, Double] =
    pairMIMulti(data, batch.map(c => (c, other)), maxCategories)
      .map { case ((c, _), v) => c -> v }

  /** Session-lifetime statistics cache for [[pairStats]]: MI and chi2
    * depend only on the input RELATION and the column pair, so each pair's
    * fused (mi, chi2, lx, ly, n) tuple is cached individually under the
    * canonicalized logical plan (Catalyst's own same-result identity — the
    * key two equivalent `.select` chains share, and two different parquet
    * dirs never do) — the shared [[graft.ops.PlanKey]] file-identity key,
    * absent when the plan does not identify the contents (see its
    * scaladoc for the staleness/collision analysis). Per-PAIR granularity
    * means any later request is served for its cached subset and pays
    * one counting job for only the missing pairs — sound because
    * [[pairStatsFused]] rounds to 12 decimals exactly so that batch
    * composition cannot change a pair's value. A feature-statistics cache
    * in the CBO tradition, NOT cached data: a fit over a matrix another
    * query already profiled (the Estimator gate re-fitting what
    * `selectTopK` just selected, a chi2 relevance query after an MI
    * profile) repeats no corpus-scale counting, and cached hits still
    * derive dof / Cramér's V without a job.
    */
  private val pairStatsCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), scala.collection.concurrent.TrieMap[(Int, Int),
      (Double, Double, Long, Long, Long)]]

  /** Per-pair contingency tables over one pass of `src`, as
    * (pair index into `pairs`, [[graft.stats.CellTable]] chunk) records —
    * the counting stage of [[pairStatsFused]], and the CPU-dominant stage
    * of any profiling call (rows × |pairs| cells).
    *
    * Imperative per-partition contingency instead of
    * `crossJoin(pairs) → groupBy().count()`: the Catalyst spelling pays
    * an UnsafeRow projection + hash-probe per expanded tuple (~4× the
    * cost of an array probe, measured end-to-end); here each input row is
    * read ONCE at the InternalRow level (no boxing, no row expansion) and
    * counted into a [[graft.stats.CellCounter]] keyed (pairIdx, cvBits,
    * ovBits), whose flush-on-full bounds memory. NULL values (and
    * positions past a short array) count as their own level, so NaN dedup
    * and null-as-group-key semantics match the SQL spelling.
    *
    * Emitted chunks ≈ partitions × |pairs| tables of ≤ levels² cells
    * (plus one set per extra flush) — the same post-combine bound as a
    * hash aggregate's partial side.
    */
  private[graft] def pairCellCounts(src: DataFrame, pairs: Seq[(Int, Int)])
  : RDD[(Long, Array[Long])] = {
    val cands = pairs.map(_._1).toArray
    val others = pairs.map(_._2).toArray
    val nP = cands.length
    src
      .select(col("label").cast("double"), col("f").cast("array<double>"))
      .queryExecution.toRdd
      .mapPartitions(CellTable.countPartition(_, "pair") { (row, counter) =>
        val labB = CellTable.bitsAt(row, 0)
        val arr = if (row.isNullAt(1)) null else row.getArray(1)
        val aLen = if (arr == null) 0 else arr.numElements()
        var p = 0
        while (p < nP) {
          val c = cands(p)
          val o = others(p)
          counter.add(p,
            if (c < aLen) CellTable.bitsAt(arr, c) else CellTable.NullBits,
            if (o < 0) labB
            else if (o < aLen) CellTable.bitsAt(arr, o)
            else CellTable.NullBits)
          p += 1
        }
      })
  }

  private def round12(v: Double): Double = math.rint(v * 1e12) / 1e12

  /** One FUSED counting pass (guide §1.2 "don't compute things twice"):
    * [[pairCellCounts]] → one `reduceByKey` of the per-pair tables → one
    * executor-side fold per pair ([[graft.stats.CellTable.foldByKey]]),
    * which yields MI and chi2 from the same merged table and marginals.
    * Computing BOTH statistics per pass costs ~nothing on top of the
    * counting stage (which dominates at any scale), and [[pairStats]]
    * caches both, so whichever family runs second (chi2 relevance after
    * an MI profile, or vice versa) pays zero counting jobs instead of
    * re-scanning the corpus. One job; the driver receives |pairs| scalar
    * tuples, and both values round to 12 decimals.
    *
    * @return per pair: (mi, chi2, lx, ly, n)
    */
  private def pairStatsFused(data: DataFrame, pairs: Seq[(Int, Int)],
                             maxCategories: Int)
  : Map[(Int, Int), (Double, Double, Long, Long, Long)] = {
    // The cell counter below reads each input row ×|pairs| and is the
    // CPU-bound stage of the whole selection — its parallelism must not be
    // whatever split count the scan happened to produce (a small input is
    // one parquet split → all row × pair tuples are counted on ONE core;
    // measured 5s versus 0.7s spread over the machine). One narrow
    // pre-count shuffle of (label, f) rows is orders of magnitude
    // cheaper. On a real multi-TB input the scan already has ≥ cores
    // splits and this is a no-op.
    val par = data.sparkSession.sparkContext.defaultParallelism
    val src =
      if (data.rdd.getNumPartitions < par) data.repartition(par) else data
    val ps = pairs.toIndexedSeq
    val folded = CellTable.foldByKey(pairCellCounts(src, ps), ps.size)
    folded.foreach { case (p, (_, _, levels, _, _)) =>
      if (levels > maxCategories) throw new IllegalArgumentException(
        s"column ${ps(p.toInt)._1} has $levels distinct values, " +
          s"more than maxCategories = $maxCategories")
    }
    // Round to 12 decimals: the fold's summation order follows the merged
    // table's layout, which varies with which OTHER pairs share the job
    // (all-pairs fast path vs per-round batches) and with partitioning,
    // drifting results by ~1e-15 — enough to flip the greedy argmax on
    // mathematically-tied scores, making the SELECTED SET depend on the
    // batchSize perf knob. 12 decimals is far above the drift and far
    // below any real MI gap, so both paths (and repeated runs) see
    // bit-identical memo values. (MI ≤ ln(levels), so the scaled value is
    // well inside exact double range.)
    folded.map { case (p, (mi, chi2, lx, ly, n)) =>
      ps(p.toInt) -> ((round12(mi), round12(chi2), lx, ly, n))
    }.toMap
  }

  /** Fused (mi, chi2, lx, ly, n) per pair: served from
    * [[pairStatsCache]] where cached, one [[pairStatsFused]] job for the
    * rest.
    */
  private def pairStats(data: DataFrame, allPairs: Seq[(Int, Int)],
                        maxCategories: Int)
  : Map[(Int, Int), (Double, Double, Long, Long, Long)] = {
    require(allPairs.nonEmpty, "pairs must be non-empty")
    val planCache = graft.ops.PlanKey.of(data)
      .map(k => pairStatsCache.getOrElseUpdate((k, maxCategories),
        scala.collection.concurrent.TrieMap.empty))
    val cached = planCache.fold(
      Map.empty[(Int, Int), (Double, Double, Long, Long, Long)])(pc =>
      allPairs.flatMap(p => pc.get(p).map(p -> _)).toMap)
    val pairs = allPairs.filterNot(cached.contains)
    if (pairs.isEmpty) return cached
    val stats = pairStatsFused(data, pairs, maxCategories)
    planCache.foreach(_ ++= stats)
    cached ++ stats
  }

  /** One distributed job (none when every pair is cached): MI for an
    * arbitrary list of (cand, other) column pairs (`other == -1` is the
    * label column).
    */
  private[graft] def pairMIMulti(data: DataFrame, allPairs: Seq[(Int, Int)],
                                 maxCategories: Int)
  : Map[(Int, Int), Double] =
    pairStats(data, allPairs, maxCategories).map { case (p, s) => p -> s._1 }

  /** One distributed job: Pearson chi-square statistic for an arbitrary
    * list of (cand, other) column pairs (`other == -1` is the label
    * column) — the classic univariate alternative to MI relevance
    * (sklearn's chi2 / SelectKBest shape). Same physical plan as
    * [[pairMIMulti]], the same fused pass: per-partition cell counter
    * ([[pairCellCounts]]) → one `reduceByKey` of the per-pair tables →
    * one executor-side fold per pair; the driver receives |pairs|
    * scalars, never a contingency matrix, so the 100 TB contract is
    * identical.
    *
    * @return per pair: (chi2, distinct levels of cand, distinct levels of
    *         other, total count n) — enough for the caller to derive
    *         degrees of freedom `(lx−1)(ly−1)` and Cramér's V
    *         `sqrt(chi2 / (n · min(lx−1, ly−1)))` without another job.
    */
  private[graft] def pairChi2Multi(data: DataFrame, allPairs: Seq[(Int, Int)],
                                   maxCategories: Int)
  : Map[(Int, Int), (Double, Long, Long, Long)] =
    pairStats(data, allPairs, maxCategories).map {
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
    * the label's, and a feature block must have exactly the label block's
    * length — position i of a feature block pairs with position i of the
    * label block (MI is instance-order invariant, so ANY consistent tiling
    * works; a scan-partition tiling needs no sort at all). Violations
    * raise with the offending blockId rather than silently computing MI
    * over a subset.
    *
    * Physical plan per selection: round 0 joins the blocked matrix with
    * the label blocks on blockId, every later round joins the remaining
    * candidates with the NEWEST WINNER's blocks (a 1/features fraction of
    * the data — the join's build side), then a per-partition contingency
    * pass (the same [[graft.stats.CellCounter]] as [[pairCellCounts]]: one
    * InternalRow-level read per value, no row expansion, flush-on-full
    * bound) whose per-feature tables merge in ONE `reduceByKey` and fold
    * to MI on the executors ([[blockMIPerId]]). The driver receives
    * O(features) doubles per round — never a vector, never a contingency
    * matrix. Same math as [[MutualInformation.fromVectors]] (the dense
    * zero cells it infers are counted explicitly here — identical result),
    * same memoized-redundancy greedy loop, same (score desc, id asc) ties.
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
                        num: Int): Seq[(Long, Double)] = {
    // NO operator-level materialization (r13, the sf10 lesson): the
    // caller's blocks frame is already a cheap re-readable source (the
    // gates pass the session-pinned fixture), and EVERY second copy of
    // a multi-GB array-row matrix on the default heap proved fatal in a
    // different way — .cache()'s in-memory-columnar builder buffers 10k
    // multi-MB rows per ColumnBuilder batch, and Dataset.checkpoint's
    // row-copy loop allocates row-sized transients outside the memory
    // manager while the pinned fixture already holds the storage
    // budget. The k selection rounds instead re-join lazily against
    // the source: each round is one spill-safe shuffle of (a shrinking
    // candidate subset of) the matrix — managed memory only, no second
    // residency, and the relative cost at gate scales is noise.
    val data = blocks.select(
        col(idCol).cast(LongType).as("id"),
        col(blockCol).cast(LongType).as("bid"),
        col(valuesCol).cast("array<double>").as("xs"))
    val labels = labelBlocks.select(
        col(blockCol).cast(LongType).as("bid"),
        col(valuesCol).cast("array<double>").as("ys"))
    // Round 0: MI(feature, label) for every feature, one job. `n` rides
    // along to enforce the tiling contract: every feature must cover
    // exactly the label's instance count.
    val nInstances = labels
      .agg(sum(size(col("ys")))).head().getLong(0)
    // Tiling contract, stray-block direction: the inner join below
    // silently DROPS any feature block whose bid is absent from the
    // label tiling, and the n == nInstances coverage check cannot see
    // that (the matched blocks still cover exactly the label's
    // instances) — MI would be computed over a subset of the feature's
    // data without raising. One anti-join against the label bids (a
    // broadcast-sized side) catches it before any MI is computed.
    val stray = data.join(labels.select(col("bid")), Seq("bid"),
        "left_anti")
      .select(col("id"), col("bid")).limit(1).collect()
    stray.headOption.foreach { r =>
      throw new IllegalArgumentException(
        s"blocked alternate encoding: feature ${r.getLong(0)} carries " +
          s"stray block ${r.getLong(1)} absent from the label tiling — " +
          "feature and label tilings must be identical")
    }
    val relRows = blockMIPerId(data.join(labels, "bid"))
    relRows.foreach { case (id, (_, n)) =>
      require(n == nInstances,
        s"blocked alternate encoding: feature $id covers $n instances " +
          s"but the label row has $nInstances — missing or ragged blocks")
    }
    val rel = relRows.map { case (id, (mi, _)) => id -> mi }
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
        // winner's blocks re-keyed as the "label" side of the same fold.
        val winner = data.filter(col("id") === wid)
          .select(col("bid"), col("xs").as("ys"))
        val cands = data.filter(col("id") =!= wid &&
          !col("id").isin(selected.map(_._1).toSeq: _*))
        blockMIPerId(cands.join(winner, "bid")).foreach {
          case (id, (mi, _)) => redSum(id) = redSum(id) + mi
        }
      }
    }
    selected.toSeq
  }

  /** MI per feature id over joined (id, xs, ys) block records — the
    * blocked path's counting + fold stage. Per partition, a
    * [[graft.stats.CellCounter]] counts (id, xBits, yBits) cells in one
    * InternalRow-level pass, NULL counted as a level exactly as in
    * [[pairCellCounts]]; the per-id tables merge in one `reduceByKey` and
    * fold on the executors ([[graft.stats.CellTable.foldByKey]]), one job.
    * Returns 12-decimal-rounded MI (same stabilization rationale as
    * [[pairStatsFused]]) plus the instance count n for the caller's tiling
    * check.
    */
  private[graft] def blockMIPerId(joined: DataFrame)
  : Map[Long, (Double, Long)] = {
    val chunks = joined
      .select(col("id"), col("xs"), col("ys"))
      .queryExecution.toRdd
      .mapPartitions(CellTable.countPartition(_, "blocked") { (row, counter) =>
        val id = row.getLong(0)
        if (row.isNullAt(1) || row.isNullAt(2))
          throw new IllegalArgumentException(
            s"blocked alternate encoding: feature $id has a block whose " +
              "feature or label values array is null — feature and label " +
              "tilings must be identical")
        val xs = row.getArray(1)
        val ys = row.getArray(2)
        val nX = xs.numElements(); val nY = ys.numElements()
        if (nX != nY) throw new IllegalArgumentException(
          s"blocked alternate encoding: feature $id has a block of " +
            s"length $nX where the label block has length $nY — " +
            "feature and label tilings must be identical")
        var i = 0
        while (i < nX) {
          counter.add(id, CellTable.bitsAt(xs, i), CellTable.bitsAt(ys, i))
          i += 1
        }
      })
    // the ids are not known before the job: the merge is as wide as the
    // default parallelism
    CellTable.foldByKey(chunks, Int.MaxValue)
      .map { case (id, (mi, _, _, _, n)) => id -> ((round12(mi), n)) }
      .toMap
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
    * driver-side label vector. Callers insisting on the vector layout at
    * a wider shape must opt in explicitly via `maxInstances` after sizing
    * executor memory for ≥ 8·instances bytes per record.
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
    * reference's O(candidates · |selected|).
    */
  private def selectRowsIncremental(df: DataFrame, idCol: String,
                                    featuresCol: String, num: Int,
                                    labelsRow: Vector)
  : Seq[(Long, Double)] = {
    val sc = df.sparkSession.sparkContext
    val bLabels = sc.broadcast(labelsRow)
    // The per-round loop runs on the RDD API deliberately: each round is a
    // trivial map + reduce over already-cached candidates, and going
    // through Dataset/Catalyst here costs a full analyze/optimize/encode
    // cycle per round on the DRIVER (runtime-reflection encoders included)
    // — measured as the dominant, high-variance cost of the whole
    // selection once the JVM is warm with other queries. One DataFrame
    // plan runs below (the projection into the RDD); everything after is
    // plain distributed compute with O(1) driver planning per round.
    var cands: org.apache.spark.rdd.RDD[RowCandidate] = df
      .select(col(idCol).cast(LongType).as("id"), col(featuresCol).as("vec"))
      .rdd
      .map { r =>
        val v = r.getAs[Vector](1)
        RowCandidate(r.getLong(0), v,
          MutualInformation.fromVectors(v, bLabels.value), 0.0)
      }.cache()
    val k = math.min(num.toLong, cands.count()).toInt
    val selected = mutable.ArrayBuffer.empty[(Long, Double)]
    while (selected.size < k) {
      val sSize = selected.size
      // Winner by (score desc, id asc) in ONE reduce job — only scalar
      // (id, score) pairs travel; the winning vector is fetched separately
      // from the cached candidates so instance-length vectors never ride
      // the argmax.
      val (wid, wscore) = cands
        .map(c => (c.id,
          if (sSize == 0) c.rel else c.rel - c.redSum / sSize))
        .reduce(better)
      selected += ((wid, wscore))
      if (selected.size < k) {
        val winVec = cands.filter(_.id == wid).first().vec
        val bWin = sc.broadcast(winVec)
        val next = cands
          .filter(_.id != wid)
          .map(c => c.copy(
            redSum = c.redSum + MutualInformation.fromVectors(c.vec,
              bWin.value)))
          .cache()
        next.count() // materialize before dropping the parent
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
    * one reduce job and its vector from one lookup instead of three scans.
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
      selectedVecs += data.filter(_._1 == wid).first()._2
    }
    data.unpersist()
    selected.toSeq
  }
}

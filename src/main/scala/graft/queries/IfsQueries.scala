package graft.queries

import graft.feature.{FeatureSelector, IterativeFeatureSelection, RowSelector}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The IFS/mRMR query family — the reference engine's core capability
  * (SURVEY.md §2.1) exercised end-to-end over the driver's lineitem table,
  * with DuckDB oracles for everything including the greedy selection itself.
  *
  * The data matrix is a deterministic discretization of lineitem:
  * label = l_returnflag (A/N/R → 0/1/2) and six categorical features
  * (quantity, discount%, tax%, ship month, linestatus, linenumber). The
  * oracle SQL is generated programmatically: mutual information of a column
  * pair is a window-function aggregation over the pair's co-occurrence
  * counts, and the greedy k-round mRMR selection is unrolled into k chained
  * CTEs, each picking `argmax(relevance − avg redundancy)` over the
  * remaining candidates. Scores are rounded to 6 decimals on both sides;
  * cross-engine FP deltas are ~1e-12 relative.
  */
object IfsQueries {

  /** (name, spark expression, duckdb expression) per matrix column.
    * Discretizations avoid engine-divergent casts: DuckDB CAST(double AS
    * INT) rounds while Spark truncates, so `floor` is explicit everywhere.
    */
  private val featureDefs: Seq[(String, String, String)] = Seq(
    ("f0_qty", "floor(l_quantity)", "floor(l_quantity)"),
    ("f1_disc", "round(l_discount * 100)", "round(l_discount * 100)"),
    ("f2_tax", "round(l_tax * 100)", "round(l_tax * 100)"),
    ("f3_month", "month(l_shipdate)", "month(l_shipdate)"),
    ("f4_status", "CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END",
      "CASE WHEN l_linestatus = 'F' THEN 0 ELSE 1 END"),
    ("f5_lineno", "l_linenumber", "l_linenumber"),
  )
  private val labelSpark =
    "CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END"
  private val labelDuck =
    "CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END"

  val featureNames: Seq[String] = featureDefs.map(_._1)
  private val k = 4

  /** The conventional-encoding matrix: (label, f: array<double>), plus the
    * deterministic instance ordering key (lineitem's natural PK).
    */
  def matrix(s: SparkSession, dir: String): DataFrame =
    Q.t(s, dir, "lineitem").select(
      expr(labelSpark).cast(DoubleType).as("label"),
      array(featureDefs.map(d => expr(d._2).cast(DoubleType)): _*).as("f"),
      col("l_orderkey"), col("l_linenumber"))

  /** Alternate-encoding matrix: one record per feature, its values across
    * all instances as a vector, assembled from the blocked fixture's
    * blocks (see [[rowMatrixBuild]]). The vector is the one record whose
    * width equals the instance count — at the 100 TB design point this
    * encoding is only usable when instances-per-feature fits a record,
    * which is the same contract as the reference's alternate input files
    * (SURVEY.md §1.1).
    *
    * Cached + memoized per (session, dir): three queries (select_rows,
    * row_model_flags fit + transform) share one assembly.
    */
  def rowMatrix(s: SparkSession, dir: String): DataFrame =
    rowMatrixBuild(s, dir)
      .filter(col("id") >= 0L) // drop the label pseudo-row (id -1)

  /** Session-cache key carrying the table's data identity (PlanKey —
    * file listing + mtimes + sizes), so a regenerated testdata dir
    * cannot serve a stale fixture within a session.
    */
  private def fixtureKey(s: SparkSession, dir: String,
                         name: String): String =
    name + "|" + graft.ops.PlanKey.of(Q.t(s, dir, "lineitem"))
      .getOrElse(dir)

  // The transpose fixtures live in SessionCache (eager localCheckpoint,
  // protected from Bench.resetState) rather than a memo + DataFrame
  // .cache(): six alternate-encoding gates share each fixture, and the
  // old re-cache-per-gate spelling meant every gate re-ran the full
  // columnize + IN-MEMORY COLUMNAR cache build — whose ByteBuffer churn
  // over multi-MB array rows is exactly what OOM'd the sf3 leg at the
  // default heap (32 concurrent column-batch builders × ~64 MB peak,
  // three times over). A localCheckpoint materializes ONCE per scale as
  // plain row blocks (MEMORY_AND_DISK, spills), survives the inter-gate
  // resetState, and is derived untimed in Bench's warm-up like the
  // graph/text shared derivations (the r10 warm-state accounting) —
  // each gate then measures its SELECTION, not a redundant rebuild of
  // the shared input encoding.

  private def rowMatrixBuild(s: SparkSession, dir: String): DataFrame =
    graft.ops.SessionCache.getOrElsePin(s,
      fixtureKey(s, dir, "ifs_rowmatrix")) {
      import s.implicits._
      // One transpose per scale: each id's vector (the label as id -1) is
      // its blocks of the pinned blocked fixture in bid order, so vector
      // positions agree between features and the label row, and no second
      // lineitem scan runs. MI is instance-order invariant, so the scan
      // order the blocks keep is all the alternate encoding needs.
      rowMatrixBlocked(s, dir).as[(Long, Long, Array[Double])].rdd
        .groupBy(_._1,
          math.min(featureDefs.size + 1, s.sparkContext.defaultParallelism))
        .map { case (id, blocks) =>
          (id, org.apache.spark.ml.linalg.Vectors.dense(
            blocks.toArray.sortBy(_._2).flatMap(_._3)))
        }
        .toDF("id", "features")
    }

  /** Block-partitioned alternate-encoding matrix: one record per
    * (feature, scan-partition block) — (id, bid, values), with the label
    * riding as pseudo-feature -1. This is the SCALE-FREE alternate layout
    * ([[IterativeFeatureSelection.selectRowsBlocked]]) and the one
    * transpose per scale: [[rowMatrixBuild]] assembles its vectors from
    * these blocks. No record is wider than [[BlockRows]] rows, and there
    * is no driver-side label vector. block id = (scan partition, chunk),
    * deterministic for a fixed input (any consistent tiling is valid — MI
    * is instance-order invariant). Cached + memoized per (session, dir).
    */
  def rowMatrixBlocked(s: SparkSession, dir: String): DataFrame =
    graft.ops.SessionCache.getOrElsePin(s,
      fixtureKey(s, dir, "ifs_rowmatrix_blocked")) {
      import s.implicits._
      val projDF = matrix(s, dir).select("label", "f")
      val nFeatures = featureDefs.size
      projDF.queryExecution.toRdd
        .mapPartitionsWithIndex { (pi, it) =>
          chunkedColumnize(pi, it, nFeatures)
        }
        .toDF("id", "bid", "values")
        // empty scan partitions yield zero-length blocks on EVERY feature
        // including the label — harmless to MI, dropped for tidiness
        .filter(size(col("values")) > 0)
    }

  /** Rows-per-block cap of the transpose pass: 2 MB arrays. Before this
    * cap (r13, the sf10 OOM), a block spanned its whole SCAN PARTITION —
    * ~4M rows at sf10 under 128 MB splits, so every (feature, block)
    * record was a 30+ MB array: the build held nFeatures × that per
    * task, and the blocked-MI consumer's join buffered multi-MB
    * UnsafeRow copies — the 8 GiB heap died in warm-up. Blocks are a
    * TILING choice (MI is instance-order invariant; the label rides the
    * same pass, so feature/label tiles stay aligned by construction) —
    * bounding them fixes the record width at any corpus size, which is
    * the whole point of the blocked layout.
    */
  private val BlockRows = 1 << 16

  /** Streaming chunked transpose of one scan partition: fills the
    * per-feature builders up to [[BlockRows]] rows, emits one
    * (featureId, blockId, values) record per feature (label as pseudo-
    * feature -1), then resets — at most nFeatures+1 bounded builders
    * live at once, never the whole partition. Block ids compose
    * (partition, chunk) into one Long so scan order is numeric order (the
    * vector assembly sorts on it).
    */
  private def chunkedColumnize(
      pi: Int,
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      nFeatures: Int): Iterator[(Long, Long, Array[Double])] =
    new Iterator[(Long, Long, Array[Double])] {
      private var chunk = 0L
      private var queue: Iterator[(Long, Long, Array[Double])] =
        Iterator.empty
      private def refill(): Unit = {
        if (!it.hasNext) return
        val bs = Array.fill(nFeatures + 1)(
          new scala.collection.mutable.ArrayBuilder.ofDouble)
        var n = 0
        while (it.hasNext && n < BlockRows) {
          val r = it.next()
          bs(0) += r.getDouble(0)
          val arr = r.getArray(1)
          var f = 0
          while (f < nFeatures) { bs(f + 1) += arr.getDouble(f); f += 1 }
          n += 1
        }
        val bid = pi.toLong * (1L << 32) + chunk
        chunk += 1
        queue = (0 to nFeatures).iterator.map { i =>
          ((i - 1).toLong, bid, bs(i).result())
        }
      }
      def hasNext: Boolean = {
        if (!queue.hasNext) refill()
        queue.hasNext
      }
      def next(): (Long, Long, Array[Double]) = {
        if (!queue.hasNext) refill()
        queue.next()
      }
    }

  /** Per-instance labels in the same deterministic order as [[rowMatrix]]
    * vector positions (the reference passes this as a Param, not data —
    * `reference:RowSelector.scala:23-24`). Row -1 of the transposed matrix
    * — one broadcast-sized fetch from the shared transpose, not a second
    * sorted scan. Memoized per (session, dir).
    */
  def labelsRow(s: SparkSession, dir: String): Array[Double] =
    cache.getOrElseUpdate(("labelsRow", s, dir), {
      // rowMatrixBuild is an eager SessionCache pin, so the head() below
      // reads one materialized block — never a second transpose pass.
      rowMatrixBuild(s, dir).filter(col("id") === -1L)
        .head().getAs[org.apache.spark.ml.linalg.Vector]("features").toArray
    }).asInstanceOf[Array[Double]]

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(String, SparkSession, String), AnyRef]

  /** Instance count of the matrix (memoized per session+dir): the fence
    * probe every alternate-encoding gate runs before choosing a fixture —
    * one column-pruned scan, paid once per scale.
    */
  private def instanceCount(s: SparkSession, dir: String): Long =
    cache.getOrElseUpdate(("instanceCount", s, dir),
      java.lang.Long.valueOf(matrix(s, dir).count())
    ).asInstanceOf[java.lang.Long].longValue()

  /** True when the corpus is inside the vector layout's width contract —
    * the gate-level routing switch: within it, gates exercise the
    * reference's vector-alternate spelling (O(instances)-wide records, a
    * driver-held labelVector); past it they fit through the BLOCKED
    * fixture, which is what the engine itself routes users to at that
    * width. The routing is a FIXTURE choice, not an engine fence: the
    * r11 sf3 ledger needed a 48 GiB driver heap solely because the
    * vector fixture built 144 MB-per-record rows at 18M instances
    * (r11 verdict #2) — the layout whose whole point is to not exist at
    * that scale.
    */
  private def vectorFixtureFits(s: SparkSession, dir: String): Boolean =
    instanceCount(s, dir) <= IterativeFeatureSelection.DefaultMaxInstances

  /** The alternate-encoding greedy selection of the matrix: through the
    * vector fixture and its driver label row when `vector`, else through
    * the blocked fixture, split into feature blocks and label blocks.
    */
  private def selectRowSide(s: SparkSession, dir: String,
                            vector: Boolean): Seq[(Long, Double)] =
    if (vector)
      IterativeFeatureSelection.selectRows(rowMatrix(s, dir), "id",
        "features", k,
        org.apache.spark.ml.linalg.Vectors.dense(labelsRow(s, dir)))
    else {
      val blocked = rowMatrixBlocked(s, dir)
      IterativeFeatureSelection.selectRowsBlocked(
        blocked.filter(col("id") >= 0L), "id", "bid", "values",
        blocked.filter(col("id") === -1L).select("bid", "values"), k)
    }

  /** Bench warm-up hook (the r10 warm-state accounting precedent, same
    * as GraphQueries/TextQueries): derive the shared alternate-encoding
    * fixtures UNTIMED so each of the six consuming gates measures its
    * selection against warm shared state instead of whichever gate runs
    * first paying the transpose. The blocked fixture always; the vector
    * fixture (and its driver label row) only within the vector width
    * contract — past it no gate builds it at all.
    */
  def warmSharedCaches(s: SparkSession, dir: String): Unit = {
    rowMatrixBlocked(s, dir)
    if (vectorFixtureFits(s, dir)) { labelsRow(s, dir); () }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O3+O4: MI(feature, label) for every feature — one distributed job.
    "ifs_mi_relevance" -> { (s, dir) =>
      import s.implicits._
      val mi = IterativeFeatureSelection.pairMIMulti(
        matrix(s, dir).select("label", "f"),
        featureDefs.indices.map(i => (i, -1)),
        IterativeFeatureSelection.DefaultMaxCategories)
      mi.toSeq.map { case ((i, _), v) =>
        (featureNames(i), math.rint(v * 1e6) / 1e6)
      }.toDF("feature", "mi").orderBy("feature")
    },

    // O3+O4 full pair table: MI for all feature×feature and feature×label
    // pairs (the quantities the greedy rounds consume).
    "ifs_mi_pairwise" -> { (s, dir) =>
      import s.implicits._
      // All 21 pairs in ONE distributed job (single scan, single shuffle).
      val pairs =
        featureDefs.indices.map(i => (i, -1)) ++
          (for {
            j <- featureDefs.indices
            i <- (j + 1) until featureDefs.size
          } yield (i, j))
      val mi = IterativeFeatureSelection.pairMIMulti(
        matrix(s, dir).select("label", "f"), pairs,
        IterativeFeatureSelection.DefaultMaxCategories)
      mi.toSeq.map { case ((i, j), v) =>
        val (a, b) =
          if (j < 0) (featureNames(i), "label")
          else (featureNames(j), featureNames(i))
        (a, b, math.rint(v * 1e6) / 1e6)
      }.toDF("a", "b", "mi").orderBy("a", "b")
    },

    // Custom typed Aggregator (graft.functions.MIAggregate): per-GROUP
    // mutual information — map-side partial pair counting, one double per
    // group out. Grouped MI is new surface vs the reference (one global
    // matrix per job there).
    "ifs_mi_by_group" -> { (s, dir) =>
      Q.t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(round(graft.functions.MIAggregate.mi(
          expr("floor(l_quantity)"), expr(labelSpark)), 6).as("mi"))
        .orderBy("l_linestatus")
    },

    // Chi-square relevance — the classic univariate alternative to MI
    // (sklearn SelectKBest/chi2 shape), from the same one-job counting
    // machinery: per feature vs label, the Pearson chi2 statistic, its
    // degrees of freedom, and Cramér's V effect size.
    "ifs_chi2_relevance" -> { (s, dir) =>
      import s.implicits._
      val res = IterativeFeatureSelection.pairChi2Multi(
        matrix(s, dir).select("label", "f"), featureDefs.indices.map(i => (i, -1)),
        IterativeFeatureSelection.DefaultMaxCategories)
      res.toSeq.map { case ((i, _), (chi2, lx, ly, n)) =>
        val dof = (lx - 1) * (ly - 1)
        val v = math.sqrt(chi2 / (n.toDouble * math.min(lx - 1, ly - 1)))
        (featureNames(i), math.rint(chi2 * 1e6) / 1e6, dof,
          math.rint(v * 1e6) / 1e6)
      }.toDF("feature", "chi2", "dof", "cramers_v").orderBy("feature")
    },

    // O1/O3/O6/O8: greedy mRMR selection, conventional encoding.
    "ifs_select_topk" -> { (s, dir) =>
      import s.implicits._
      val data = matrix(s, dir)
        .select(col("label").cast("int").as("label"),
          array_to_vector(col("f")).as("features"))
      val sel = IterativeFeatureSelection.selectColumns(
        data, "label", "features", k)
      sel.zipWithIndex.map { case ((fidx, score), r) =>
        (r + 1, featureNames(fidx), math.rint(score * 1e6) / 1e6)
      }.toDF("rnk", "feature", "score").orderBy("rnk")
    },

    // O2/O7: the same selection through the alternate (transposed)
    // encoding — cross-encoding agreement is the reference's own
    // self-check (`reference:CommandLine.scala:167-169`); here both
    // encodings are additionally checked against the same SQL oracle.
    "ifs_select_rows" -> { (s, dir) =>
      import s.implicits._
      // Auto-route past the width fence, mirroring the public Estimator
      // surface (RowSelector encoding=auto): the vector spelling is
      // individually pinned at every scale inside its contract
      // (sf0.001…sf1); past the fence the gate demonstrates the scale
      // routing instead of erroring — exactly what a library user gets.
      val sel = selectRowSide(s, dir, vectorFixtureFits(s, dir))
      sel.zipWithIndex.map { case ((fid, score), r) =>
        (r + 1, featureNames(fid.toInt), math.rint(score * 1e6) / 1e6)
      }.toDF("rnk", "feature", "score").orderBy("rnk")
    },

    // O2/O7 at scale: the SAME greedy selection through the
    // block-partitioned alternate encoding — (feature, block, values)
    // records, labels as data, no O(instances) record or driver vector
    // anywhere (the layout that removes selectRows' maxInstances fence).
    // Checked against the identical unrolled greedy oracle as
    // ifs_select_rows, so vector-alternate, blocked-alternate, and
    // conventional all pin to one ground truth.
    "ifs_blocked_rows" -> { (s, dir) =>
      import s.implicits._
      val sel = selectRowSide(s, dir, vector = false)
      sel.zipWithIndex.map { case ((fid, score), r) =>
        (r + 1, featureNames(fid.toInt), math.rint(score * 1e6) / 1e6)
      }.toDF("rnk", "feature", "score").orderBy("rnk")
    },

    // The reference's own de-facto correctness invariant, promoted from
    // CLI banner to oracle-checked gate
    // (`reference:CommandLine.scala:167-169`): the conventional and
    // alternate encodings must select the SAME features in the SAME
    // order with the SAME scores. Runs both selections over the shared
    // fixture and emits each round's winner from both sides plus an
    // engine-computed equality flag; the oracle pins the flag to TRUE,
    // so any cross-encoding divergence is a hash mismatch, not a log
    // line.
    "ifs_cross_encoding" -> { (s, dir) =>
      import s.implicits._
      val data = matrix(s, dir)
        .select(col("label").cast("int").as("label"),
          array_to_vector(col("f")).as("features"))
      val colSel = IterativeFeatureSelection.selectColumns(
        data, "label", "features", k)
      // Row side routed as in ifs_select_rows, so this gate stays GREEN
      // (and meaningful: three encodings, one oracle) at instance counts
      // where the vector layout's maxInstances guard would fire. Both
      // spellings are individually oracle-pinned (ifs_select_rows /
      // ifs_blocked_rows); this gate is the cross-encoding agreement.
      val rowSel = selectRowSide(s, dir, vectorFixtureFits(s, dir))
      colSel.zip(rowSel).zipWithIndex.map {
        case (((ci, cs), (ri, rs)), r) =>
          (r + 1, featureNames(ci), featureNames(ri.toInt),
            math.rint(cs * 1e6) / 1e6, math.rint(rs * 1e6) / 1e6,
            ci == ri.toInt)
      }.toDF("rnk", "col_feature", "row_feature",
          "col_score", "row_score", "agree")
        .orderBy("rnk")
    },

    // P3/P4: the ML Estimator/Model surface — fit a RowSelector, flag the
    // selected feature-rows (boolean outputCol), same oracle winners.
    // Past the vector contract the gate fits through the BLOCKED fixture
    // (r11 verdict #2): the vector fixture + labelVector Param would hold
    // O(instances) driver state and O(instances)-wide records — the exact
    // cost the engine's own routing exists to avoid — and turned the r11
    // sf3 ledger into a 48 GiB-heap run. The vector spelling stays
    // individually pinned at sf0.001…sf1 (6M ≤ the 10M fence); the
    // selection is layout-invariant, so the oracle is unchanged.
    "ifs_row_model_flags" -> { (s, dir) =>
      if (vectorFixtureFits(s, dir)) {
        val model = new RowSelector()
          .setNumTopRows(k)
          .setIdCol("id")
          .setFeaturesCol("features")
          .setLabelVector(labelsRow(s, dir))
          .setOutputCol("selected")
          .fit(rowMatrix(s, dir))
        model.transform(rowMatrix(s, dir))
          .select(col("id"), col("selected"))
          .orderBy("id")
      } else {
        val blocked = rowMatrixBlocked(s, dir)
        val model = new RowSelector()
          .setNumTopRows(k)
          .setIdCol("id")
          .setFeaturesCol("values")
          .setBlockCol("bid")
          .setOutputCol("selected")
          .fit(blocked)
        model.transform(blocked)
          .filter(col("id") >= 0L)
          .select(col("id"), col("selected"))
          .distinct()
          .orderBy("id")
      }
    },

    // P3 at scale (r10 verdict #1): the PUBLIC Estimator surface reaches
    // the blocked encoding. A blocked input schema (id, bid, values —
    // labels riding as pseudo-feature -1, the labelRowId default) is
    // detected by encoding=auto and fit through selectRowsBlocked: no
    // labelVector Param, no driver-side instance axis, no fence at any
    // width. Same unrolled greedy oracle as ifs_row_model_flags.
    "ifs_row_model_blocked" -> { (s, dir) =>
      val blocked = rowMatrixBlocked(s, dir)
      val model = new RowSelector()
        .setNumTopRows(k)
        .setIdCol("id")
        .setFeaturesCol("values")
        .setBlockCol("bid")
        .setOutputCol("selected")
        .fit(blocked)
      model.transform(blocked)
        .filter(col("id") >= 0L)
        .select(col("id"), col("selected"))
        .distinct()
        .orderBy("id")
    },

    // P3 past the fence (r10 verdict #1, the exact repro): DEFAULT
    // Estimator usage — vector layout + labelVector Param — with the
    // width fence set BELOW the corpus's instance count. Instead of the
    // old IllegalArgumentException, encoding=auto re-tiles the vectors
    // into blocks on the fly and computes the identical selection
    // through the scale-free path; the fence error is now reachable
    // only via explicit encoding=vector (spec-pinned). The re-tile
    // demonstration needs a vector-layout INPUT to re-tile, so it runs
    // wherever that fixture fits (sf0.001…sf1 — up to 6M-instance
    // records, well past the 1000-instance fence being demonstrated);
    // beyond the vector contract the gate fits the blocked fixture like
    // every other alternate-encoding gate (r11 verdict #2) — there is
    // no honest way to demonstrate vector re-tiling at a width where
    // building the vector input is itself the out-of-memory bug.
    "ifs_row_model_retile" -> { (s, dir) =>
      if (vectorFixtureFits(s, dir)) {
        val model = new RowSelector()
          .setNumTopRows(k)
          .setIdCol("id")
          .setFeaturesCol("features")
          .setLabelVector(labelsRow(s, dir))
          .setOutputCol("selected")
          .setMaxInstances(1000) // far below every sf's instance count
          .fit(rowMatrix(s, dir))
        model.transform(rowMatrix(s, dir))
          .select(col("id"), col("selected"))
          .orderBy("id")
      } else {
        val blocked = rowMatrixBlocked(s, dir)
        val model = new RowSelector()
          .setNumTopRows(k)
          .setIdCol("id")
          .setFeaturesCol("values")
          .setBlockCol("bid")
          .setOutputCol("selected")
          .fit(blocked)
        model.transform(blocked)
          .filter(col("id") >= 0L)
          .select(col("id"), col("selected"))
          .distinct()
          .orderBy("id")
      }
    },

    // P1/P2: the conventional Estimator/Model surface end-to-end under
    // the oracle — fit a FeatureSelector (greedy mRMR), transform
    // (VectorSlicer projection to the selected indices, ascending), then
    // aggregate the sliced matrix per slot: both the selected WINNERS and
    // the slice plumbing are hash-checked, not just spec-asserted.
    "ifs_feature_model_slice" -> { (s, dir) =>
      import s.implicits._
      val data = matrix(s, dir).select(
        col("label").cast("int").as("label"),
        array_to_vector(col("f")).as("features"))
      val model = new FeatureSelector()
        .setNumTopFeatures(k)
        .setLabelCol("label")
        .setFeaturesCol("features")
        .setOutputCol("selected")
        .fit(data)
      // slot i (1-based) = i-th selected feature in ascending index order
      // (VectorSlicer's slice order).
      val slotNames = model.selectedFeatures.sorted.toSeq.zipWithIndex
        .map { case (fi, i) => ((i + 1).toLong, featureNames(fi)) }
        .toDF("slot", "feature")
      model.transform(data)
        .select(org.apache.spark.ml.functions.vector_to_array(
          col("selected")).as("sel"))
        .select(posexplode(col("sel")).as(Seq("pos", "v")))
        .groupBy("pos")
        .agg(count(lit(1)).as("n_rows"), Q.dsum(col("v"), 2).as("sum_val"))
        .withColumn("slot", (col("pos") + 1).cast(LongType))
        .join(broadcast(slotNames), "slot")
        .select(col("slot"), col("feature"), col("n_rows"), col("sum_val"))
        .orderBy("slot")
    },

    // Continuous-feature path: the reference consumes pre-discretized
    // integer matrices; this gate runs the discretization itself —
    // equal-width-bin events.value (10 bins over exact min/max), then
    // MI(bin, event_type) from the exact contingency. Per-bin counts +
    // the single MI as a constant column. The (bin × event_type) count
    // collect is bounded by 10 × |event types| regardless of corpus size,
    // and the triples are sorted before summation so the driver-side MI
    // is partition-order independent.
    "ifs_bin_mi" -> { (s, dir) =>
      import s.implicits._
      val binned = graft.ops.Discretize.equalWidthAuto(
        Q.events(s, dir).select(col("value"), col("event_type")),
        "value", "bin", 10)
      val triples = binned.groupBy("bin", "event_type").count()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2))
      val mi = math.rint(graft.stats.MutualInformation
        .fromPairCounts(triples) * 1e6) / 1e6
      triples.groupBy(_._1).view
        .mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
        .toDF("bin", "n")
        .withColumn("mi", lit(mi))
        .orderBy("bin")
    },
  )

  // ---------------------------------------------------------------- oracle

  /** Scalar subquery: MI in nats between two SQL expressions over lineitem,
    * via co-occurrence counts + window marginals (same formula as
    * `graft.stats.MutualInformation`, re-expressed relationally).
    */
  private def miSql(xExpr: String, yExpr: String): String =
    s"""(SELECT sum((c / n) * ln((c * n) / (cx * cy))) FROM (
       |  SELECT c, sum(c) OVER () AS n,
       |         sum(c) OVER (PARTITION BY x) AS cx,
       |         sum(c) OVER (PARTITION BY y) AS cy
       |  FROM (SELECT $xExpr AS x, $yExpr AS y,
       |               CAST(count(*) AS DOUBLE) AS c
       |        FROM lineitem GROUP BY 1, 2)))""".stripMargin

  /** CTE with one row per (a, b, mi): all feature pairs in both directions
    * plus (feature, 'label') rows.
    */
  private def pmiCte: String = {
    val rows =
      featureDefs.map { case (n, _, d) =>
        s"SELECT '$n' AS a, 'label' AS b, ${miSql(d, labelDuck)} AS mi"
      } ++
        (for {
          i <- featureDefs.indices
          j <- featureDefs.indices if i != j
        } yield {
          val (ni, _, di) = featureDefs(i)
          val (nj, _, dj) = featureDefs(j)
          s"SELECT '$ni' AS a, '$nj' AS b, ${miSql(di, dj)} AS mi"
        })
    rows.mkString("\nUNION ALL\n")
  }

  /** The greedy k-round mRMR selection unrolled into chained CTEs. */
  private def greedyCtes: String = {
    val sb = new StringBuilder
    sb ++= s"WITH pmi AS (\n$pmiCte\n),\n"
    sb ++= "rel AS (SELECT a AS f, mi FROM pmi WHERE b = 'label'),\n"
    sb ++= "w1 AS (SELECT f, mi AS score FROM rel ORDER BY score DESC, f LIMIT 1),\n"
    sb ++= "sel1 AS (SELECT f FROM w1)"
    for (r <- 2 to k) {
      sb ++= s""",
        |s$r AS (
        |  SELECT rel.f,
        |    rel.mi - (SELECT avg(p.mi) FROM pmi p
        |              WHERE p.a = rel.f
        |                AND p.b IN (SELECT f FROM sel${r - 1})) AS score
        |  FROM rel WHERE rel.f NOT IN (SELECT f FROM sel${r - 1})),
        |w$r AS (SELECT f, score FROM s$r ORDER BY score DESC, f LIMIT 1),
        |sel$r AS (SELECT f FROM sel${r - 1} UNION ALL SELECT f FROM w$r)""".stripMargin
    }
    sb.result()
  }

  private def greedySelectionSql: String = {
    val finalRows = (1 to k)
      .map(r => s"SELECT $r AS rnk, f AS feature, round(score, 6) AS score FROM w$r")
      .mkString("\nUNION ALL\n")
    s"$greedyCtes\n$finalRows\nORDER BY rnk"
  }

  def oracles: Map[String, String] = Map(
    "ifs_mi_relevance" ->
      (featureDefs.map { case (n, _, d) =>
        s"SELECT '$n' AS feature, round(${miSql(d, labelDuck)}, 6) AS mi"
      }.mkString("", "\nUNION ALL\n", "\nORDER BY feature")),

    "ifs_mi_pairwise" -> {
      val rows =
        featureDefs.map { case (n, _, d) =>
          s"SELECT '$n' AS a, 'label' AS b, round(${miSql(d, labelDuck)}, 6) AS mi"
        } ++
          (for {
            j <- featureDefs.indices
            i <- (j + 1) until featureDefs.size
          } yield {
            val (nj, _, dj) = featureDefs(j)
            val (ni, _, di) = featureDefs(i)
            s"SELECT '$nj' AS a, '$ni' AS b, round(${miSql(di, dj)}, 6) AS mi"
          })
      rows.mkString("", "\nUNION ALL\n", "\nORDER BY a, b")
    },

    "ifs_mi_by_group" ->
      s"""SELECT l_linestatus, round(mi, 6) AS mi FROM (
         |  SELECT l_linestatus, sum((c / n) * ln((c * n) / (cx * cy))) AS mi
         |  FROM (
         |    SELECT l_linestatus, c,
         |      sum(c) OVER (PARTITION BY l_linestatus) AS n,
         |      sum(c) OVER (PARTITION BY l_linestatus, x) AS cx,
         |      sum(c) OVER (PARTITION BY l_linestatus, y) AS cy
         |    FROM (SELECT l_linestatus, floor(l_quantity) AS x,
         |                 $labelDuck AS y, CAST(count(*) AS DOUBLE) AS c
         |          FROM lineitem GROUP BY 1, 2, 3))
         |  GROUP BY l_linestatus)
         |ORDER BY l_linestatus""".stripMargin,

    "ifs_chi2_relevance" ->
      (featureDefs.map { case (nm, _, d) =>
        s"""SELECT '$nm' AS feature, round(chi2, 6) AS chi2,
           |  CAST((rx - 1) * (ry - 1) AS BIGINT) AS dof,
           |  round(sqrt(chi2 / (n * least(rx - 1, ry - 1))), 6) AS cramers_v
           |FROM (
           |  SELECT
           |    (SELECT max(n) * sum(c * c / (cx * cy)) - max(n)
           |     FROM (SELECT c, sum(c) OVER () AS n,
           |                  sum(c) OVER (PARTITION BY x) AS cx,
           |                  sum(c) OVER (PARTITION BY y) AS cy
           |           FROM (SELECT $d AS x, $labelDuck AS y,
           |                        CAST(count(*) AS DOUBLE) AS c
           |                 FROM lineitem GROUP BY 1, 2))) AS chi2,
           |    (SELECT count(DISTINCT $d) FROM lineitem) AS rx,
           |    (SELECT count(DISTINCT $labelDuck) FROM lineitem) AS ry,
           |    (SELECT CAST(count(*) AS DOUBLE) FROM lineitem) AS n)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY feature")),

    "ifs_select_topk" -> greedySelectionSql,
    "ifs_select_rows" -> greedySelectionSql,
    "ifs_blocked_rows" -> greedySelectionSql,

    // Both encodings must land on the oracle's winner each round, so the
    // oracle emits w_r on BOTH sides and agree = TRUE unconditionally —
    // the engine computes agree from its actual selections.
    "ifs_cross_encoding" -> {
      val rows = (1 to k).map(r =>
        s"SELECT $r AS rnk, f AS col_feature, f AS row_feature, " +
          s"round(score, 6) AS col_score, round(score, 6) AS row_score, " +
          s"TRUE AS agree FROM w$r")
        .mkString("\nUNION ALL\n")
      s"$greedyCtes\n$rows\nORDER BY rnk"
    },

    "ifs_feature_model_slice" -> {
      val sums = featureDefs.map { case (nm, _, d) =>
        s"""SELECT '$nm' AS feature, CAST(count(*) AS BIGINT) AS n_rows,
           |  ${Q.dsumSql(d, 2)} AS sum_val FROM lineitem""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""$greedyCtes,
         |win AS (${(1 to k).map(r => s"SELECT f FROM w$r")
          .mkString(" UNION ALL ")}),
         |slots AS (
         |  SELECT f AS feature, row_number() OVER (ORDER BY f) AS slot
         |  FROM win),
         |fsums AS (
         |$sums)
         |SELECT CAST(slots.slot AS BIGINT) AS slot, slots.feature,
         |  fsums.n_rows, fsums.sum_val
         |FROM slots JOIN fsums ON slots.feature = fsums.feature
         |ORDER BY slot""".stripMargin
    },

    "ifs_row_model_flags" -> {
      val values = featureNames.zipWithIndex
        .map { case (n, i) => s"($i, '$n')" }.mkString(", ")
      s"""$greedyCtes
         |SELECT CAST(v.id AS BIGINT) AS id,
         |       v.fname IN (SELECT f FROM sel$k) AS selected
         |FROM (VALUES $values) AS v(id, fname)
         |ORDER BY id""".stripMargin
    },

    // Estimator-level blocked/re-tiled routing answers the SAME flags
    // as the vector-path Estimator gate — three fits, one ground truth.
    "ifs_row_model_blocked" -> {
      val values = featureNames.zipWithIndex
        .map { case (n, i) => s"($i, '$n')" }.mkString(", ")
      s"""$greedyCtes
         |SELECT CAST(v.id AS BIGINT) AS id,
         |       v.fname IN (SELECT f FROM sel$k) AS selected
         |FROM (VALUES $values) AS v(id, fname)
         |ORDER BY id""".stripMargin
    },
    "ifs_row_model_retile" -> {
      val values = featureNames.zipWithIndex
        .map { case (n, i) => s"($i, '$n')" }.mkString(", ")
      s"""$greedyCtes
         |SELECT CAST(v.id AS BIGINT) AS id,
         |       v.fname IN (SELECT f FROM sel$k) AS selected
         |FROM (VALUES $values) AS v(id, fname)
         |ORDER BY id""".stripMargin
    },

    "ifs_bin_mi" ->
      """WITH lims AS (SELECT min(value) AS lo, max(value) AS hi
        |              FROM events),
        |b AS (
        |  SELECT CAST(greatest(least(
        |      floor((value - lo) / ((hi - lo) / 10)), 9), 0) AS BIGINT)
        |    AS bin, event_type AS et
        |  FROM events, lims),
        |ct AS (
        |  SELECT bin, et, CAST(count(*) AS DOUBLE) AS c
        |  FROM b GROUP BY 1, 2),
        |w AS (
        |  SELECT bin, et, c, sum(c) OVER () AS n,
        |         sum(c) OVER (PARTITION BY bin) AS cb,
        |         sum(c) OVER (PARTITION BY et) AS ce
        |  FROM ct),
        |m AS (SELECT sum((c / n) * ln((c * n) / (cb * ce))) AS mi FROM w)
        |SELECT bin, CAST(sum(c) AS BIGINT) AS n,
        |       round((SELECT mi FROM m), 6) AS mi
        |FROM w GROUP BY bin
        |ORDER BY bin""".stripMargin,
  )
}

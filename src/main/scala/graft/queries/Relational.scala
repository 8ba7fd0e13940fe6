package graft.queries

import graft.queries.Q._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Relational query suite over the TPC-H-ish tables.
  *
  * The reference engine has no relational surface beyond scans/filters
  * (SURVEY.md §2.5) — these queries exercise the §2.5 categories (joins,
  * windows, rollup, distinct agg, set ops, anti joins) end-to-end through
  * built-in Spark SQL so a user of the rebuilt engine gets the full
  * relational toolbox alongside the IFS operators.
  *
  * Scale notes (100 TB design point):
  *   - CONSTANT-cardinality dimensions (region: 5 rows, nation: 25) carry
  *     `broadcast()` hints — safe at any SF. Scaling dimensions
  *     (customer/supplier/part, linear in SF) carry NO hint: AQE
  *     broadcasts them iff the filtered side measures small at runtime,
  *     and shuffle-joins at the SF where a forced broadcast would OOM;
  *   - fact-fact joins (orders⋈lineitem) shuffle on the join key only after
  *     filters are pushed into the parquet scan;
  *   - aggregations are partial (map-side) before the shuffle, so shuffle
  *     volume is bounded by (#groups × partitions), not rows.
  */
object Relational {

  /** Once-per-(session, sfDir) bucketed-table ingest backing
    * `q_bucketed_join`. Bench calls this from its untimed warm-up so the
    * gate measures the co-located (exchange-free) JOIN, not the one-time
    * ingest shuffle it exists to amortize; the gate re-invokes it as a
    * cheap idempotence guard for standalone execution (Verify, tests).
    */
  def setupBucketedTables(s: SparkSession, dir: String): Unit = {
    import graft.sources.BucketedTables
    // 32 buckets = the bench machine's core count: bucket count caps the
    // exchange-free join's parallelism (8 buckets left 24 of 32 cores
    // idle). At cluster scale, size bucket count to executor-cores ×
    // executors the table's consumers run with.
    BucketedTables.ensureBucketed(
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
      "g_orders_bkt", "o_orderkey", 32, dir)
    BucketedTables.ensureBucketed(
      t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "g_lineitem_bkt", "l_orderkey", 32, dir)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pairwise Pearson correlation matrix over lineitem's numeric
    // columns — all 6 pairs from ONE aggregation pass of exact decimal
    // moment sums (native corr() is partition-order dependent in any
    // engine; see graft.stats.Correlation).
    "q_corr_matrix" -> { (s, dir) =>
      graft.stats.Correlation.pairwiseCorr(t(s, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    // TPC-H Q1: pricing summary report.
    "q1_pricing_summary" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("2000-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity"), 2).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax")), 6).as("sum_charge"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q3-style: top revenue orders for one market segment.
    "q3_top_orders" -> { (s, dir) =>
      val customer = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1999-01-01"))
      val lineitem = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1999-01-01"))
      lineitem
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        // customer SCALES with SF (unlike region/nation) — no forced
        // broadcast; AQE broadcasts the filtered side iff it measures small
        .join(customer, col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)
    },

    // TPC-H Q5-style: revenue by supplier nation within two regions.
    "q5_nation_revenue" -> { (s, dir) =>
      val region = t(s, dir, "region")
        .filter(col("r_name").isin("ASIA", "EUROPE"))
      val nation = t(s, dir, "nation")
      val supplier = t(s, dir, "supplier")
      t(s, dir, "lineitem")
        // supplier scales with SF → AQE's call; nation/region are constant
        .join(supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    },

    // Null-safe join semantics — the classic silent-data-loss bug of
    // key-cleansing pipelines made measurable: under the standard
    // equi-join NULL = NULL is unknown, so null-keyed rows silently
    // vanish; `<=>` (IS NOT DISTINCT FROM) co-partitions them instead.
    // The gate derives a nullable key on two disjoint document slices,
    // counts both join cardinalities plus each side's null-key rows,
    // and emits the reconciliation identity nullsafe = plain +
    // nulls_a·nulls_b as an integer-checked boolean — where the rows
    // went, proven, not assumed. All four counts are scalar aggregates
    // combined by broadcast (the sanctioned scalar crossJoin).
    "q_nullsafe_join" -> { (s, dir) =>
      def slice(m: Int): DataFrame =
        t(s, dir, "documents").filter(col("doc_id") % m === 0)
          .select(when(col("doc_id") % 7 === 0, lit(null))
            .otherwise(col("doc_id") % 50).as("k"))
      val a = slice(3).select(col("k").as("ka"))
      val b = slice(5).select(col("k").as("kb"))
      val nPlain = a.join(b, col("ka") === col("kb"))
        .agg(count(lit(1)).as("n_plain"))
      val nSafe = a.join(b, col("ka") <=> col("kb"))
        .agg(count(lit(1)).as("n_nullsafe"))
      val nullA = a.agg(sum(when(col("ka").isNull, 1).otherwise(0))
        .cast("long").as("n_null_a"))
      val nullB = b.agg(sum(when(col("kb").isNull, 1).otherwise(0))
        .cast("long").as("n_null_b"))
      nPlain.crossJoin(broadcast(nSafe))
        .crossJoin(broadcast(nullA)).crossJoin(broadcast(nullB))
        .select(col("n_plain"), col("n_nullsafe"), col("n_null_a"),
          col("n_null_b"),
          (col("n_nullsafe") - col("n_plain") ===
            col("n_null_a") * col("n_null_b")).as("reconciled"))
    },

    // TPC-H Q8 shape (national market share): the deepest join in the
    // registry — lineitem against every other table of the star schema
    // (part, supplier, orders, customer, nation twice, region; 7 joins).
    // The dimension policy is the broadcast rule writ large: nation and
    // region (constant cardinality) carry explicit broadcast hints;
    // part, supplier, customer and orders all scale with SF, so their
    // joins shuffle on their keys and AQE localizes whichever side
    // fits at runtime. The p_type filter prunes part BEFORE its join
    // and the o_orderdate range prunes orders likewise — both reach
    // the parquet scans as pushed filters. Exact decimal volume sums;
    // the share divides once, in one fixed association, on both
    // engines.
    "q8_market_share" -> { (s, dir) =>
      val part = t(s, dir, "part").filter(col("p_type") === "PROMO")
        .select("p_partkey")
      val orders = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderkey"), col("o_custkey"),
          year(col("o_orderdate")).cast("long").as("o_year"))
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"),
          col("n_name").as("supp_nation"))
      val region = t(s, dir, "region").filter(col("r_name") === "EUROPE")
      t(s, dir, "lineitem")
        .join(part, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("c_nationkey") === col("c_nk"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("s_nk"))
        .withColumn("volume",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
        .groupBy("o_year")
        .agg(
          dsum(when(col("supp_nation") === "NATION_7", col("volume"))
            .otherwise(lit(0.0)), 6).as("nation_volume"),
          dsum(col("volume"), 6).as("total_volume"))
        .withColumn("mkt_share",
          round(col("nation_volume") / col("total_volume"), 6))
        .orderBy("o_year")
    },

    // TPC-H Q17 shape (small-quantity revenue): revenue from line items
    // whose quantity is below 20% of the part's average quantity — the
    // classic correlated scalar subquery, decorrelated the Spark-first
    // way: broadcast the filtered part dimension FIRST (prunes lineitem
    // to the brands of interest before any shuffle), then compute the
    // per-part average with a window over l_partkey — ONE lineitem scan
    // and one keyed shuffle, vs the naive two-scan self-join. The
    // quantity threshold is compared division-free in exact decimal
    // (5·qty·n < Σqty ⇔ qty < 0.2·avg) so no FP boundary can flip a
    // row's membership in either engine.
    "q_small_qty_revenue" -> { (s, dir) =>
      val parts = t(s, dir, "part")
        .filter(col("p_brand").isin("Brand#16", "Brand#18"))
        .select("p_partkey", "p_brand")
      val w = Window.partitionBy("l_partkey")
      t(s, dir, "lineitem")
        // part scales with SF even brand-filtered → AQE's call
        .join(parts, col("l_partkey") === col("p_partkey"))
        .withColumn("sq",
          sum(col("l_quantity").cast("decimal(18,6)")).over(w))
        .withColumn("nq", count(lit(1)).over(w))
        .filter(col("l_quantity").cast("decimal(18,6)") * 5 * col("nq") <
          col("sq"))
        .groupBy("p_brand")
        .agg(round(dsum(col("l_extendedprice"), 6) / 7.0, 2)
          .as("avg_yearly"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },

    // TPC-H Q18 shape (large-volume customers): aggregate-then-join —
    // the per-order quantity rollup runs FIRST and its >250 survivors
    // (~1.5% of orders) are the join's build side, which AQE broadcasts
    // at runtime; orders and customer never shuffle against the full
    // lineitem. The HAVING compares exact decimals, and the top-100 is
    // fully tiebroken (totalprice DESC, orderdate, orderkey) so the
    // LIMIT boundary is deterministic in both engines.
    "q18_big_orders" -> { (s, dir) =>
      val big = t(s, dir, "lineitem").select("l_orderkey", "l_quantity")
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
        .filter(col("sq") > 250)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"),
          col("sq").cast("double").as("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderdate"),
          col("o_orderkey"))
        .limit(100)
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    // this schema's dates: on finished orders, which supplier was the
    // SOLE late shipper (shipdate > orderdate + 1900 days ≈ the p97
    // lateness tail) while at least one other supplier shared the
    // order? The reference spelling is a correlated EXISTS + NOT EXISTS
    // pair — the oracle keeps that spelling as semantic proof — but the
    // engine DECORRELATES it into one per-order aggregate (distinct
    // suppliers, distinct late suppliers) joined back to the late
    // lines: two shuffles on the order key and zero self-join fan-out,
    // the plan that survives a lineitem 100× this size. Counts are
    // exact integers; the top-20 is fully tiebroken (numwait DESC,
    // unique s_name).
    "q21_blame_supplier" -> { (s, dir) =>
      val fOrders = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val lines = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_shipdate") >
            col("o_orderdate") + expr("INTERVAL 1900 DAYS")).as("late"))
      val perOrder = lines.groupBy("l_orderkey")
        .agg(countDistinct("l_suppkey").as("n_sups"),
          countDistinct(when(col("late"), col("l_suppkey")))
            .as("n_late_sups"))
        .filter(col("n_sups") > 1 && col("n_late_sups") === 1)
        .select("l_orderkey")
      val blamed = lines.filter(col("late"))
        .join(perOrder, Seq("l_orderkey"))
        .select("l_orderkey", "l_suppkey").distinct()
      blamed.groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_name"),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(20)
    },

    // TPC-H Q11 shape (important stock concentration): revenue value
    // per part brand, keeping only brands above a global-share
    // threshold — the HAVING-against-scalar-subquery pattern. The
    // global total is a one-row broadcast; the threshold compare is
    // exact decimal cross-multiplication (value·25 > total), never a
    // divided fraction, so the cut is bit-identical in both engines
    // and independent of summation order at any scale.
    "q11_brand_share" -> { (s, dir) =>
      val per = t(s, dir, "lineitem")
        .select("l_partkey", "l_extendedprice")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 6)))
          .as("value_dec"))
      val tot = per.agg(sum("value_dec").as("total_dec"))
      per.crossJoin(tot) // scalar aggregate — sanctioned broadcast
        .filter(col("value_dec") * 25 > col("total_dec"))
        .select(col("p_brand"),
          round(col("value_dec").cast(DoubleType), 2).as("brand_value"),
          round(col("value_dec").cast(DoubleType) /
            col("total_dec").cast(DoubleType), 6).as("share"))
        .orderBy(desc("brand_value"), col("p_brand"))
    },

    // Market-basket co-occurrence with lift — the association-rule
    // primitive (FP-growth's support counting step) over order baskets:
    // which part pairs appear in the same order more often than chance?
    // The pair stream is a SELF-JOIN KEYED ON THE ORDER — per-order
    // fan-out is items²/order (single digits here, bounded by basket
    // size at any corpus scale), never an unkeyed cross. Supports are
    // exact integer counts; lift = n_both·N/(supp_a·supp_b) divides
    // once per surviving pair (top-5 by support, key tiebreak), in the
    // same association on both engines.
    "q_basket_pairs" -> { (s, dir) =>
      // pinned: the distinct basket stream feeds the pair join (twice),
      // the support counts and the order count — without the pin the
      // scan+distinct shuffle runs 4×
      val li = graft.ops.Pin.pin(t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct())
      // The pair-domain aggregate's per-task hash state scales with the
      // DOMAIN (distinct pairs), not the input — at sf10 it OOM'd an
      // 8 GiB heap whenever the session's reduce width was a small-scale
      // constant (r13's scale-killer). The exchange width is therefore
      // derived IN-GATE from the gate's own input bytes (guide §2.5), so
      // per-task state is bounded regardless of what the session tuned
      // its width for. The explicit keyed repartition replaces the agg's
      // implicit exchange (the grouping reuses its partitioning); the
      // dropped map-side partial agg compressed ~nothing here anyway —
      // a (part_a, part_b) pair rarely repeats within one map task.
      val pairs = li.as("a")
        .join(li.as("b"),
          col("a.l_orderkey") === col("b.l_orderkey") &&
            col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("part_a"),
          col("b.l_partkey").as("part_b"))
        .repartition(exchangeWidth(s, s"$dir/lineitem.parquet"),
          col("part_a"), col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(count(lit(1)).as("n_both"))
        .orderBy(desc("n_both"), col("part_a"), col("part_b"))
        .limit(5)
      val supp = li.groupBy("l_partkey").agg(count(lit(1)).as("supp"))
      val nOrders = li.select("l_orderkey").distinct()
        .agg(count(lit(1)).as("n_orders"))
      pairs
        .join(supp.select(col("l_partkey").as("part_a"),
          col("supp").as("supp_a")), "part_a")
        .join(supp.select(col("l_partkey").as("part_b"),
          col("supp").as("supp_b")), "part_b")
        .crossJoin(broadcast(nOrders))
        .select(col("part_a"), col("part_b"), col("n_both"),
          col("supp_a"), col("supp_b"),
          round((col("n_both") * col("n_orders")).cast("double") /
            (col("supp_a") * col("supp_b")).cast("double"), 6).as("lift"))
        .orderBy("part_a", "part_b")
    },

    // Distributed Poisson bootstrap — the only bootstrap that works on
    // a cluster (resampling-with-replacement needs global indexing; the
    // Poisson(1) approximation needs only a per-row weight): 32
    // replicas of the per-segment mean order value, each row's weight
    // in replica b drawn DETERMINISTICALLY from md5(o_orderkey, b)
    // against exact integer thresholds (cumulative Poisson(1) on the
    // 2^16 grid — reproducible across engines, partitionings, reruns;
    // no RNG state). Work is rows×B map-side with a (segment, replica)-
    // keyed aggregate of 160 groups — the shuffle is trivial at any
    // scale. Replica means come from exact scaled-long sums with one
    // double division; the CI is the 2nd/31st of the 32 sorted means
    // (a ~94% interval), picked from a bounded collected list.
    "q_poisson_bootstrap" -> { (s, dir) =>
      val base = t(s, dir, "orders")
        .join(t(s, dir, "customer").select("c_custkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderkey"),
          round(col("o_totalprice") * 100, 0).as("cents"))
      val rep = base
        .select(col("seg"), col("o_orderkey"), col("cents"),
          explode(expr("sequence(0, 31)")).as("b"))
        .withColumn("h", conv(substring(md5(
          concat(col("o_orderkey"), lit("_"), col("b"))), 1, 4), 16, 10)
          .cast("long"))
        .withColumn("w", when(col("h") < 24109, 0)
          .when(col("h") < 48219, 1).when(col("h") < 60281, 2)
          .when(col("h") < 64299, 3).otherwise(4))
      val means = rep.groupBy("seg", "b")
        .agg(sum(col("w")).as("sw"),
          sum((col("w") * col("cents")).cast("long")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double").as("swx"))
        .select(col("seg"),
          round(col("swx") / col("sw") / lit(100), 6).as("mean_b"))
      val point = base.groupBy("seg")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents").cast("long")
            .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("double").as("sx"))
        .select(col("seg"), col("n_orders"),
          round(col("sx") / col("n_orders") / lit(100), 6)
            .as("point_mean"))
      val ci = means.groupBy("seg")
        .agg(array_sort(collect_list(col("mean_b"))).as("a"))
        .select(col("seg"), expr("try_element_at(a, 2)").as("ci_lo"),
          expr("try_element_at(a, cast(size(a) - 1 AS INT))").as("ci_hi"))
      point.join(ci, "seg").orderBy("seg")
    },

    // Aggregates with exact-decimal average per market segment.
    "q_mktseg_stats" -> { (s, dir) =>
      t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
          count(lit(1)).as("n_customers"),
          dsum(col("c_acctbal")).as("sum_acctbal"),
          count_distinct(col("c_nationkey")).as("n_nations"))
        .withColumn("avg_acctbal",
          round(col("sum_acctbal") / col("n_customers"), 4))
        .orderBy("c_mktsegment")
    },

    // Window function: top-3 orders per customer by total price.
    "q_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey", "rn")
    },

    // Cumulative frame: per-customer running order total in date order
    // (ROWS UNBOUNDED PRECEDING — partitions are per-customer and small,
    // so the window sort is bounded; corpus-wide running totals use
    // graft.ops.PrefixSum instead). Decimal-exact cumulative sums.
    "q_running_total" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .withColumn("run_total",
          sum(col("o_totalprice").cast(org.apache.spark.sql.types.DecimalType(18, 4))).over(w)
            .cast("double"))
        .filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("od_us"),
          col("run_total"))
        .orderBy("o_custkey", "od_us", "o_orderkey")
    },

    // Entity-resolution near-dup: blocked edit-distance join. Classic
    // blocking (equi-join on (brand, size) — bounded block sizes, never
    // all-pairs) then a Levenshtein verify on the survivors, using
    // Spark's banded threshold variant (O(len·k) per pair instead of
    // O(len²), early-exit above the bound). Cost is Σ block², controlled
    // by the blocking key — the standard record-linkage scale shape.
    "q_blocked_editdist" -> { (s, dir) =>
      val p = t(s, dir, "part")
      val a = p.select(col("p_partkey").as("id_a"), col("p_brand"),
        col("p_size"), col("p_name").as("name_a"))
      val b = p.select(col("p_partkey").as("id_b"),
        col("p_brand").as("brand_b"), col("p_size").as("size_b"),
        col("p_name").as("name_b"))
      a.join(b, col("p_brand") === col("brand_b") &&
          col("p_size") === col("size_b") && col("id_a") < col("id_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 4))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
        .orderBy("id_a", "id_b")
    },

    // RANGE-frame window (value-range frame over day numbers, vs
    // q_running_total's ROWS frame): per order priority, the rolling
    // 7-day revenue — frame membership is by day distance, so gap days
    // are handled correctly (a ROWS frame would silently span gaps).
    // Daily pre-aggregation bounds the window input to days × priorities
    // rows regardless of order count — the 100 TB shape.
    "q_rolling_revenue" -> { (s, dir) =>
      val daily = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("pri"),
          col("o_orderdate").as("day"))
        // decimal through the WINDOW sum too (dsum casts back to double,
        // which would re-introduce order-dependent drift in rev7)
        .agg(sum(col("o_totalprice")
          .cast(org.apache.spark.sql.types.DecimalType(18, 4))).as("rev"))
        .withColumn("day_num", datediff(col("day"), lit("1970-01-01")))
      val w = Window.partitionBy("pri").orderBy("day_num")
        .rangeBetween(-6, 0)
      daily
        .withColumn("rev7", sum(col("rev")).over(w).cast("double"))
        .filter(col("day_num") % 7 === 0)
        .select(col("pri"),
          unix_micros(col("day").cast("timestamp")).as("day_us"),
          col("rev").cast("double").as("rev"), col("rev7"))
        .orderBy("pri", "day_us")
    },

    // GROUPING SETS distinct from ROLLUP/CUBE: exactly two groupings —
    // by (returnflag, linestatus) and by (linestatus) alone.
    "q_grouping_sets" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
          |    AS sum_qty
          |FROM g_lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |                        (l_linestatus))
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus""".stripMargin)
    },

    // ntile quartiles: account-balance quartile boundaries per market
    // segment (the remaining ranking-window family member).
    "q_ntile_quartiles" -> { (s, dir) =>
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("q", ntile(4).over(w).cast("long"))
        .groupBy("c_mktsegment", "q")
        .agg(count(lit(1)).as("n"),
          min(col("c_acctbal")).as("lo"),
          max(col("c_acctbal")).as("hi"))
        .orderBy("c_mktsegment", "q")
    },

    // Rank-statistics window family (percent_rank + cume_dist): each
    // customer's account-balance position within its (segment, nation)
    // cell, emitted for a deterministic 1-in-50 sample. The partition
    // key is deliberately the FINER (segment, nation) grid: exact rank
    // statistics sort each partition on one task, so the partition must
    // be the unit that fits — corpus-wide exact ranks use
    // q_approx_quantiles / RowIndex instead (this gate is the API-
    // completeness row for the rank-stat windows, at the granularity
    // that stays task-sized).
    "q_percent_rank" -> { (s, dir) =>
      val w = Window.partitionBy("c_mktsegment", "c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .withColumn("pr", round(percent_rank().over(w), 6))
        .withColumn("cd", round(cume_dist().over(w), 6))
        .filter(col("c_custkey") % 50 === 0)
        .select("c_custkey", "c_mktsegment", "c_nationkey", "pr", "cd")
        .orderBy("c_custkey")
    },

    // Same top-3-per-group result as a bounded-heap AGGREGATE
    // (graft.functions.TopK over Catalyst's CollectTopK): the window
    // spelling above shuffles + sorts every row; this shuffles ≤ k rows
    // per (group, partition) — the form that survives 100 TB. Grouped by
    // order priority; ties break on the struct's (price, orderkey)
    // descending order, which the oracle mirrors.
    "q_topk_per_group" -> { (s, dir) =>
      graft.functions.TopK.topKPerGroup(t(s, dir, "orders"),
          Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
        .orderBy("o_orderpriority", "rnk")
    },

    // ROLLUP over returnflag × linestatus (grouping-sets family).
    "q_rollup_flags" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty"))
        .orderBy("rf", "ls")
    },

    // CUBE over priority × status with the grouping_id bitmask (the full
    // grouping-sets family alongside q_rollup_flags' ROLLUP).
    "q_cube_status" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          dsum(col("o_totalprice")).as("sum_price"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          col("gid"), col("n"), col("sum_price"))
        .orderBy("gid", "pri", "st")
    },

    // Relational PIVOT proper (RelationalGroupedDataset.pivot with an
    // explicit value list — one shuffle, statuses become columns), vs
    // q_orders_by_month's manual conditional-aggregation spelling.
    "q_pivot_status" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy").as("year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .select(col("year"),
          coalesce(col("F"), lit(0.0)).as("price_f"),
          coalesce(col("O"), lit(0.0)).as("price_o"),
          coalesce(col("P"), lit(0.0)).as("price_p"))
        .orderBy("year")
    },

    // UNPIVOT (melt): the inverse of q_pivot_status — wide per-year
    // status columns back to long (year, status, price) form, nulls for
    // absent combinations dropped (the melt every feature-matrix →
    // long-format conversion uses).
    "q_unpivot_status" -> { (s, dir) =>
      val wide = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy").as("year"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
      wide.unpivot(Array(col("year")),
          Array(col("F"), col("O"), col("P")), "status", "price")
        .filter(col("price").isNotNull)
        .orderBy("year", "status")
    },

    // Set operation EXCEPT: customers active in 1998 but gone in 1999+.
    "q_except" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(year(col("o_orderdate")) === 1998)
        .select(col("o_custkey").as("custkey"))
        .except(o.filter(year(col("o_orderdate")) >= 1999)
          .select(col("o_custkey").as("custkey")))
        .orderBy("custkey")
    },

    // Multiple distinct aggregates in one pass.
    "q_distinct_agg" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          count_distinct(col("l_suppkey")).as("n_supp"),
          count_distinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
        .orderBy("l_returnflag")
    },

    // Anti join: customers with no currently-open ('O') order, per segment.
    "q_anti_join" -> { (s, dir) =>
      val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
        .select("o_custkey")
      t(s, dir, "customer")
        .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_without_open"))
        .orderBy("c_mktsegment")
    },

    // Referential-integrity audit — the data-quality sweep every
    // warehouse load runs: orphan counts for all four fact→dim FKs in
    // one result. Each check is a left-anti join (probe side never
    // widens); dimension key sets broadcast, the two fact-fact checks
    // shuffle on the key only. One row per FK: the audit report shape.
    "q_fk_audit" -> { (s, dir) =>
      def audit(name: String, fact: DataFrame, key: String,
                dim: DataFrame, dimKey: String): DataFrame = {
        val orphans = fact
          .join(dim.select(col(dimKey)), col(key) === col(dimKey),
            "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        fact.agg(count(lit(1)).as("n_rows"))
          .crossJoin(orphans)
          .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
      }
      val li = t(s, dir, "lineitem")
      audit("lineitem.l_orderkey->orders", li, "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionByName(audit("lineitem.l_partkey->part", li, "l_partkey",
          t(s, dir, "part"), "p_partkey"))
        .unionByName(audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
          t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(audit("orders.o_custkey->customer",
          t(s, dir, "orders"), "o_custkey",
          t(s, dir, "customer"), "c_custkey"))
        .orderBy("fk")
    },

    // Open-order aging report: the operational backlog view — open
    // orders bucketed by age relative to the newest order date (the
    // dataset's "now", so the report is deterministic), with exact
    // decimal value at risk per bucket. One scan, integer day
    // arithmetic, buckets bounded.
    "q_order_backlog" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val mx = o.agg(max(col("o_orderdate")).as("mx"))
      o.filter(col("o_orderstatus") === "O")
        .crossJoin(broadcast(mx))
        .withColumn("age_d", datediff(col("mx"), col("o_orderdate")))
        .withColumn("bucket",
          when(col("age_d") < 90, "a_lt90")
            .when(col("age_d") < 365, "b_90to365")
            .when(col("age_d") < 730, "c_1to2y")
            .otherwise("d_gt2y"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("value_at_risk"),
          max(col("age_d")).cast("long").as("max_age_days"))
        .orderBy("bucket")
    },

    // Pre-join cardinality audit — the "estimate before you run it"
    // check for a 100 TB join: per-key count products give the EXACT
    // output size of an equi-join (Σ_k n_a(k)·n_b(k)) from two cheap
    // aggregates + a key-level join, long before shuffling the fact
    // rows. Emits the estimate, the hottest key's product (the row a
    // skew-salting decision reads), and the key-overlap counts.
    "q_join_cardinality" -> { (s, dir) =>
      val a = t(s, dir, "lineitem").groupBy(col("l_orderkey").as("k"))
        .agg(count(lit(1)).as("na"))
      val b = t(s, dir, "orders").groupBy(col("o_orderkey").as("k"))
        .agg(count(lit(1)).as("nb"))
      a.join(b, "k")
        .select(col("k"), (col("na") * col("nb")).as("prod"))
        .agg(count(lit(1)).as("n_keys_both"),
          sum(col("prod")).cast("long").as("est_join_rows"),
          max(col("prod")).cast("long").as("max_key_product"))
    },

    // Semi join (EXISTS): customers with ≥1 high-value order, per
    // segment — the probe side never duplicates or widens, unlike an
    // inner join + distinct.
    "q_semi_join" -> { (s, dir) =>
      val big = t(s, dir, "orders").filter(col("o_totalprice") > 200000.0)
        .select("o_custkey")
      t(s, dir, "customer")
        .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_with_big"))
        .orderBy("c_mktsegment")
    },

    // Sketch family: approximate quantiles (Greenwald-Khanna) beside the
    // exact ones — at scale the sketch is a bounded-size mergeable
    // summary vs the exact percentile's full sort. HASH-CHECKABLE gate:
    // the sketch value is engine-specific, so the query emits the exact
    // interpolated percentiles (SQL) plus per-group rank-error contract
    // booleans: the approx value's empirical rank must be within
    // 1/accuracy + 2/n of the target quantile (the GK guarantee plus the
    // one-value quantization grain of small groups; measured ≤0.3× the
    // bound at every sf). Integer-count arithmetic decides the booleans.
    "q_approx_quantiles" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val approx = orders.groupBy("o_orderpriority")
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
            .as("a50"),
          percentile_approx(col("o_totalprice"), lit(0.95), lit(10000))
            .as("a95"),
          expr("percentile(o_totalprice, 0.5)").as("p50_exact"),
          expr("percentile(o_totalprice, 0.95)").as("p95_exact"))
      // rank check: count(x <= approx) vs target rank q·n, slack
      // (1/10000 + 2/n)·n = n/10000 + 2, in exact integer arithmetic
      // (scale counts ×10000 so the GK term stays integral)
      def rankOk(cLe: Column, q: Int): Column =
        abs(cLe * 10000L - col("n") * (q * 100L)) <=
          col("n") + lit(20000L)
      orders.join(broadcast(approx), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          max(col("p50_exact")).as("p50_exact"),
          max(col("p95_exact")).as("p95_exact"),
          sum(when(col("o_totalprice") <= col("a50"), 1L).otherwise(0L))
            .as("le50"),
          sum(when(col("o_totalprice") <= col("a95"), 1L).otherwise(0L))
            .as("le95"))
        .select(col("o_orderpriority"), col("n"),
          round(col("p50_exact"), 4).as("p50_exact"),
          round(col("p95_exact"), 4).as("p95_exact"),
          rankOk(col("le50"), 50).as("p50_ok"),
          rankOk(col("le95"), 95).as("p95_ok"))
        .orderBy("o_orderpriority")
    },

    // FULL OUTER join: daily order volume against daily event volume —
    // day keys exist on either side alone, so both null directions are
    // exercised (completes the join family: inner/left/semi/anti/full).
    "q_full_outer" -> { (s, dir) =>
      val od = t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
        .agg(count(lit(1)).as("n_orders"))
      val ev = events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("d_e"))
        .agg(count(lit(1)).as("n_events"))
      od.join(ev, col("d") === col("d_e"), "full_outer")
        .select(coalesce(col("d"), col("d_e")).as("day"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_events"), lit(0L)).as("n_events"))
        .orderBy("day")
    },

    // Snapshot diff (SCD-style dataset versioning): classify every key
    // across two dataset versions as added / removed / changed /
    // unchanged via ONE full-outer equi-join on the key, then aggregate
    // per class. The canonical "what changed between corpus v1 and v2"
    // audit; at 100 TB the join co-partitions both snapshots on the key
    // (bucketed versions make it shuffle-free) and the per-class rollup
    // is map-side partial. The two "versions" here are deterministic
    // slices of `orders`: v1 = pre-1999 orders; v2 = pre-2000 orders
    // minus keys ≡ 0 (mod 11) [removals], with status rewritten to 'X'
    // for keys ≡ 0 (mod 7) [changes].
    "q_snapshot_diff" -> { (s, dir) =>
      val o = t(s, dir, "orders")
      val prev = o
        .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey").as("k"),
          col("o_orderstatus").as("st_p"),
          col("o_totalprice").as("tp_p"))
      val curr = o
        .filter(col("o_orderdate") < lit("2000-01-01").cast("timestamp")
          && col("o_orderkey") % 11 =!= 0)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, lit("X"))
            .otherwise(col("o_orderstatus")).as("st_c"),
          col("o_totalprice").as("tp_c"))
      prev.join(curr, Seq("k"), "full_outer")
        .select(
          when(col("st_c").isNull, lit("removed"))
            .when(col("st_p").isNull, lit("added"))
            .when(col("st_p") =!= col("st_c"), lit("changed"))
            .otherwise(lit("unchanged")).as("change"),
          coalesce(col("tp_c"), col("tp_p")).as("tp"))
        .groupBy("change")
        .agg(count(lit(1)).as("n"), dsum(col("tp")).as("sum_price"))
        .orderBy("change")
    },

    // Set operation: BUILDING customers who have an urgent order.
    "q_intersect" -> { (s, dir) =>
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("custkey"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("custkey"))
      building.intersect(urgent).orderBy("custkey")
    },

    // Conditional aggregation (pivot-style) of order status per month.
    "q_orders_by_month" -> { (s, dir) =>
      t(s, dir, "orders")
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("n_p"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("month")
    },

    // Scan with pushed filter + projection pruning; min/max are FP-exact.
    "q_part_brand_stats" -> { (s, dir) =>
      t(s, dir, "part")
        .filter(col("p_size") >= 25)
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n"),
          min(col("p_retailprice")).as("min_price"),
          max(col("p_retailprice")).as("max_price"))
        .orderBy("p_brand")
    },

    // Salted fact-fact join (graft.ops.SkewJoin): identical result to the
    // plain equi-join — the oracle IS the plain join — with the hot-key
    // shuffle spread over 8 salt buckets. Salt derives deterministically
    // from l_linenumber, so reruns are bit-identical.
    "q_salted_join" -> { (s, dir) =>
      graft.ops.SkewJoin.salted(
          t(s, dir, "lineitem"), t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", salts = 8,
          saltBy = col("l_linenumber"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority")
    },

    // Bucketed co-located join (graft.sources.BucketedTables): both fact
    // tables are written bucketed on the join key, so the join itself
    // plans with NO exchange — the pay-the-shuffle-once-at-ingest strategy
    // for fact tables joined repeatedly at 100 TB. The oracle is the plain
    // equi-join: bucketing must never change results.
    "q_bucketed_join" -> { (s, dir) =>
      setupBucketedTables(s, dir)
      graft.sources.BucketedTables.bucketedJoin(s, "g_orders_bkt",
          "o_orderkey", "g_lineitem_bkt", "l_orderkey")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_quantity"), 2).as("sum_qty"))
        .orderBy("o_orderstatus")
    },

    // Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    // `quantile_cont`: index p·(n−1), linear interpolation); rounded to 4
    // decimals on both sides so the ~1e-12 cross-engine float delta
    // vanishes. At scale swap in approx_percentile (t-digest) — same
    // query shape, sketch mergeable map-side.
    "q_percentiles" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
        .orderBy("l_returnflag")
    },

    // Fact-fact join + dimension broadcast: order priority × supplier nation.
    "q_priority_nation" -> { (s, dir) =>
      val nation = t(s, dir, "nation")
      val supplier = t(s, dir, "supplier")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        // supplier scales with SF → AQE's call; nation is constant
        .join(supplier, col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .groupBy("o_orderpriority", "n_name")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .orderBy("o_orderpriority", "n_name")
    },

    // Calendar semantics — the cross-engine minefield pinned: month
    // arithmetic must CLAMP at month end (add_months(Jan 31, 1) =
    // Feb 28/29 — both engines clamp, and n_clamped counts exactly the
    // rows where it happened), last_day, Monday-start week truncation,
    // ISO day-of-week numbering (Spark weekday() is 0=Monday, DuckDB
    // isodow is 1=Monday — the oracle twin is weekday+1), and ISO week
    // numbers (weekofyear ≡ DuckDB week()). Any engine pair that
    // disagrees on ANY of these produces different aggregates — this
    // is the gate a migration team runs first.
    "q_calendar_semantics" -> { (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderdate").as("d"))
        .select(
          date_trunc("month", col("d")).cast("date").as("m"),
          dayofmonth(last_day(col("d"))).cast("long").as("last_dom"),
          when(dayofmonth(add_months(col("d"), 1)) =!=
            dayofmonth(col("d")), 1L).otherwise(0L).as("clamped"),
          date_trunc("week", col("d")).cast("date").as("wk"),
          (weekday(col("d")) + 1).cast("long").as("isodow"),
          weekofyear(col("d")).cast("long").as("woy"))
        .groupBy("m")
        .agg(count(lit(1)).as("n"),
          max(col("last_dom")).as("last_dom"),
          sum(col("clamped")).cast("long").as("n_clamped"),
          count_distinct(col("wk")).as("n_weeks"),
          sum(col("isodow")).cast("long").as("sum_isodow"),
          sum(col("woy")).cast("long").as("sum_woy"))
        .orderBy("m")
    },

    // SQL pipe syntax — Spark 4's |> operator chain, the linear
    // spelling of SQL an analyst reads top-to-bottom: scan |> filter
    // |> aggregate |> sort, one pipeline, no nested subqueries. The
    // parser lowers it to the SAME plan as the standard spelling (the
    // oracle runs that standard spelling in DuckDB), so this gates the
    // surface without semantic risk. Views registered per-call with a
    // unique name, dropped in finally.
    "q_pipe_sql" -> { (s, dir) =>
      val view = "li_pipe_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      t(s, dir, "lineitem").createOrReplaceTempView(view)
      try s.sql(
        s"""FROM $view
           ||> WHERE l_quantity >= 25
           ||> AGGREGATE count(*) AS n_items,
           |     CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
           |       AS DOUBLE) AS sum_price
           |   GROUP BY l_returnflag, l_linestatus
           ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
      finally s.catalog.dropTempView(view)
    },

    // TPC-H Q13 shape (customer order-count distribution): LEFT OUTER
    // customer→orders with a predicate on the INNER side (non-urgent
    // orders only — in the outer join it restricts which orders count,
    // never which customers appear), count per customer with zeros
    // preserved (count(o_orderkey) ignores the null-extended rows),
    // then the histogram of counts. The join shuffles on the customer
    // key; the histogram's group count is bounded by max orders per
    // customer (double digits at any SF), so the second aggregate is
    // effectively free. The no-orders bucket is the gate's point: an
    // inner join silently drops it.
    "q13_custdist" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      t(s, dir, "customer").select("c_custkey")
        .join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },

    // TPC-H Q22 shape (idle rich customers): customers above the
    // positive-balance average with no URGENT order on file (every
    // customer in this data has SOME order, so the classic "no orders
    // at all" cut is empty — the anti-join target is the urgent slice
    // instead, same plan shape), rolled up by nation. The global
    // average is a one-row broadcast and the compare is exact-decimal
    // CROSS-MULTIPLIED (bal·n > total), never a divided mean, so the
    // cut is bit-identical in both engines at any scale; the
    // no-urgent-orders test is a LEFT ANTI join on the customer key
    // whose build side is pre-filtered to ~20% of orders. Both engines
    // cast the same double balance to DECIMAL(18,6) (round half-up),
    // so boundary rows classify identically.
    "q22_idle_rich" -> { (s, dir) =>
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_acctbal").cast(DecimalType(18, 6)).as("bal"))
      val avgPos = cust.filter(col("bal") > 0)
        .agg(sum(col("bal")).as("tot"), count(lit(1)).as("n"))
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey"))
      cust.crossJoin(avgPos) // scalar aggregate — sanctioned broadcast
        .filter(col("bal") * col("n") > col("tot"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          sum(col("bal")).cast(DoubleType).as("totacctbal"))
        .orderBy("c_nationkey")
    },

    // TPC-H Q4 shape (order priority checking): orders where at least
    // one line shipped more than 1400 days (~the p75 lateness tail of
    // this synthetic data) after the order date, counted by priority —
    // the EXISTS-as-LEFT-SEMI pattern. The semi join is equi-keyed on
    // the order key with the date inequality as a residual; it never
    // duplicates orders however many late lines an order has, and the
    // build side carries only (orderkey, shipdate).
    "q4_priority_exists" -> { (s, dir) =>
      val late = t(s, dir, "lineitem").select("l_orderkey", "l_shipdate")
      t(s, dir, "orders")
        .join(late,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 1400 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },

    // TPC-H Q12 shape (shipping-mode priority audit) — the last of the
    // 22 TPC-H patterns mirrored here: conditional aggregation AFTER a
    // fact→dim join, splitting each group's count by a dim attribute
    // with CASE-sums so one join + one aggregate replace two scans.
    // This synthetic schema carries no l_shipmode/commitdate, so the
    // mode dimension is l_returnflag and Q12's three-date sandwich
    // becomes one lateness window (shipped 60–119 days after the order
    // date) — same plan shape, same skew profile (few groups, wide
    // counts). Equi-keyed join; only (orderkey, priority, date) cross
    // the shuffle.
    "q12_shipmode_priority" -> { (s, dir) =>
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(col("l_shipdate") >=
            col("o_orderdate") + expr("INTERVAL 60 DAYS") &&
          col("l_shipdate") <
            col("o_orderdate") + expr("INTERVAL 120 DAYS"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
            .otherwise(0)).cast("long").as("high_line_count"),
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0)
            .otherwise(1)).cast("long").as("low_line_count"))
        .orderBy("l_returnflag")
    },

    // TPC-H Q19 shape (discounted revenue, disjunctive predicate): an
    // OR-of-ANDs across three brand/size/quantity windows. The planner
    // must push the common-conjunct factorization down: each disjunct
    // constrains p_brand + p_size (part side) and l_quantity (fact
    // side), so the part scan prunes to 3 brands and the join build
    // side is ~12% of part BEFORE the join — the gate exists to keep
    // that pushdown observable. Revenue terms are rounded to the cent
    // grain they carry, then decimal-summed (order-independent).
    "q19_disjunctive" -> { (s, dir) =>
      val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
      t(s, dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice",
          "l_discount")
        .join(p, col("l_partkey") === col("p_partkey"))
        .filter(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15)
            && col("l_quantity").between(1, 20)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(10, 30)
            && col("l_quantity").between(10, 35)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(20, 50)
            && col("l_quantity").between(20, 50)))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("revenue"))
        .orderBy("p_brand")
    },

    // TPC-H Q2 shape (min-cost supplier): the correlated MIN subquery
    // ("cost = (SELECT min(ps_supplycost) WHERE ps_partkey =
    // p_partkey)") decorrelated the Spark-first way: build the
    // partsupp-equivalent relation ONCE from lineitem (min decimal
    // price a supplier ever charged per part — min is exact and
    // order-free), derive the per-part floor with a second groupBy,
    // and equi-join the two on (part, cost) — zero correlated
    // execution. Both aggregates shuffle on the part key and partial-
    // aggregate map-side; the p_type/p_size filters prune the part
    // scan BEFORE the join, so the offered relation carries only the
    // filtered parts at any SF. Ties (several suppliers at the floor
    // price) all emit, ordered deterministically.
    "q2_min_cost_supplier" -> { (s, dir) =>
      val ps = t(s, dir, "lineitem")
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(min(col("l_extendedprice").cast(DecimalType(18, 6)))
          .as("supplycost"))
      val parts = t(s, dir, "part")
        .filter(col("p_type") === "PROMO" && col("p_size") <= 25)
        .select("p_partkey")
      val offered = ps.join(parts, col("l_partkey") === col("p_partkey"))
      val floor = offered.groupBy("p_partkey")
        .agg(min(col("supplycost")).as("min_cost"))
      offered
        .join(floor, Seq("p_partkey"))
        .filter(col("supplycost") === col("min_cost"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("p_partkey"), col("s_suppkey"), col("s_name"),
          col("n_name"),
          col("supplycost").cast(DoubleType).as("supplycost"))
        .orderBy("p_partkey", "s_suppkey")
    },

    // TPC-H Q15 shape (top supplier via revenue view): the CREATE VIEW
    // + correlated "revenue = (SELECT max(...))" pattern as one
    // aggregate + a one-row broadcast: quarterly revenue per supplier
    // (exact decimal sum, shipdate filter pushed into the scan), the
    // global max as a scalar aggregate, and an EXACT decimal equality
    // back onto the view — ties all emit, and the compare can never
    // flip between engines because both sides carry the identical
    // decimal sum, not a divided/rounded double.
    "q15_top_supplier" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy("l_suppkey")
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast(DecimalType(18, 6))).as("rev_dec"))
      val top = rev.agg(max(col("rev_dec")).as("max_rev"))
      rev.crossJoin(broadcast(top)) // scalar aggregate — sanctioned
        .filter(col("rev_dec") === col("max_rev"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          col("rev_dec").cast(DoubleType).as("total_revenue"))
        .orderBy("s_suppkey")
    },

    // TPC-H Q20 shape (excess-inventory suppliers, nested subquery
    // chain): "suppliers who supply a named part AND moved more than
    // half their lifetime volume of it in one year" — three nested
    // IN/correlated subqueries in the reference SQL, decorrelated into
    // a left-semi chain: ONE pass over lineitem computes lifetime and
    // in-window quantity per (part, supplier) simultaneously
    // (conditional decimal sums — never two scans), a semi join
    // against the name-filtered part list prunes pairs, the
    // cross-multiplied exact compare (2·q_win > q_all, no division)
    // selects pairs, and a second semi join lifts to suppliers.
    // Semi joins never duplicate and carry only the key column.
    "q20_excess_shippers" -> { (s, dir) =>
      val parts = t(s, dir, "part")
        .filter(col("p_name").startsWith("large"))
        .select("p_partkey")
      val shipped = t(s, dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(col("l_quantity").cast(DecimalType(18, 4))).as("q_all"),
          sum(when(year(col("l_shipdate")) === 1996, col("l_quantity"))
            .otherwise(0).cast(DecimalType(18, 4))).as("q_win"))
      val eligible = shipped
        .join(parts, col("l_partkey") === col("p_partkey"), "left_semi")
        .filter(col("q_win") * 2 > col("q_all"))
        .select("l_suppkey").distinct()
      t(s, dir, "supplier")
        .join(eligible, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_name"))
        .orderBy("s_suppkey")
    },

    // k-anonymity / l-diversity audit — the data-governance check a
    // release pipeline runs before publishing a quasi-identifier
    // projection: per QI combination (nation x market segment), the
    // group size (k) and the count of distinct sensitive values
    // (balance band → l). Emits the table-level summary: anonymity
    // level (min k), diversity level (min l), and how many QI groups /
    // rows violate k<5 or l<3. One partial-aggregated pass; group space
    // bounded by the QI domain product, never rows.
    "q_k_anonymity" -> { (s, dir) =>
      val groups = t(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          // sensitive attribute banded to thousands (the published grain)
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("k"),
          count_distinct(col("bal_band")).as("l"))
      groups.agg(
          count(lit(1)).as("n_qi_groups"),
          min(col("k")).as("k_anonymity"),
          min(col("l")).as("l_diversity"),
          sum(when(col("k") < 5, 1L).otherwise(0L)).cast("long")
            .as("groups_k_lt5"),
          sum(when(col("k") < 5, col("k")).otherwise(0L)).cast("long")
            .as("rows_k_lt5"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).cast("long")
            .as("groups_l_lt3"))
    },

    // GROUP BY ALL — the modern-SQL ergonomics clause (infer grouping
    // keys from the non-aggregate select list); IDENTICAL query text on
    // both engines, so this is a true dialect-parity gate, not a
    // translation.
    "q_group_by_all" -> { (s, dir) =>
      t(s, dir, "orders").createOrReplaceTempView("g_orders_gba")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
          |    AS DOUBLE) AS total
          |FROM g_orders_gba
          |GROUP BY ALL
          |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)
    },

    // IDENTIFIER() — templated SQL without string concatenation: table
    // AND column names arrive as named PARAMETERS resolved through the
    // injection-safe IDENTIFIER clause (the Spark-4 spelling of dynamic
    // SQL; a literal-built query string is the classic injection/typo
    // hole). The oracle inlines the resolved names.
    "q_identifier_clause" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g_li_ident")
      s.sql(
        """SELECT IDENTIFIER(:c) AS flag, CAST(count(*) AS BIGINT) AS n,
          |  CAST(round(sum(CAST(IDENTIFIER(:v) AS DECIMAL(18,2))), 2)
          |    AS DOUBLE) AS qty
          |FROM IDENTIFIER(:t)
          |GROUP BY IDENTIFIER(:c)
          |ORDER BY flag""".stripMargin,
        Map("c" -> "l_returnflag", "v" -> "l_quantity",
          "t" -> "g_li_ident"))
    },

    // EXECUTE IMMEDIATE — Spark 4's dynamic-SQL statement (r11 verdict
    // #6): the statement TEXT lives in a session variable and its one
    // free parameter binds through USING — the injection-safe spelling
    // of runtime-assembled SQL (no string concatenation anywhere: the
    // template is opaque to the optimizer until execution, the
    // parameter is typed). Completes the gated Spark-4 dialect slice
    // (IDENTIFIER / pipe / VARIANT / collation). The oracle inlines the
    // resolved statement.
    "q_execute_immediate" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g_li_exec")
      s.sql("DECLARE OR REPLACE VARIABLE g_exec_stmt STRING")
      s.sql(
        """SET VAR g_exec_stmt =
          |  'SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
          |     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
          |       AS DOUBLE) AS revenue
          |   FROM g_li_exec WHERE l_quantity > :qmin
          |   GROUP BY l_returnflag ORDER BY flag'""".stripMargin)
      s.sql("EXECUTE IMMEDIATE g_exec_stmt USING 30 AS qmin")
    },

    // Session variables (DECLARE VARIABLE / SET VAR) — the other half
    // of the Spark-4 dynamic-SQL surface (r11 verdict #6): a data-
    // derived threshold computed ONCE into a typed session variable by
    // a scalar-subquery SET, then referenced by name inside a later
    // query — the pattern that replaces driver-side string splicing of
    // computed constants. The threshold is exact integer arithmetic
    // (sum of floors DIV count) so both engines derive the identical
    // cut; the oracle inlines the subquery as a CTE.
    "q_session_variables" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g_li_vars")
      s.sql("DECLARE OR REPLACE VARIABLE g_qty_cut BIGINT")
      s.sql(
        """SET VAR g_qty_cut =
          |  (SELECT sum(CAST(floor(l_quantity) AS BIGINT)) DIV count(*)
          |   FROM g_li_vars)""".stripMargin)
      s.sql(
        """SELECT l_returnflag AS flag,
          |  g_qty_cut AS qty_cut,
          |  CAST(sum(CASE WHEN l_quantity > g_qty_cut THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_above,
          |  CAST(count(*) AS BIGINT) AS n
          |FROM g_li_vars
          |GROUP BY l_returnflag
          |ORDER BY flag""".stripMargin)
    },

    // SQL pipe syntax (Spark 4.0's |> operator chain) — the linear
    // query spelling: FROM ... |> WHERE ... |> AGGREGATE ... |> ORDER
    // BY. Same logical plan as the nested spelling, so the oracle is
    // the plain-SQL equivalent; the gate pins that the pipe parser
    // produces the identical relation, not a dialect-shaped variant.
    "q_pipe_syntax" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g_li_pipe")
      s.sql(
        """FROM g_li_pipe
          ||> WHERE l_quantity > 10
          ||> AGGREGATE CAST(count(*) AS BIGINT) AS n,
          |     CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
          |       AS DOUBLE) AS total
          |   GROUP BY l_returnflag
          ||> ORDER BY l_returnflag""".stripMargin)
    },

    // VARIANT — Spark 4's semi-structured type: each row's fields are
    // packed into a VARIANT and the aggregation reads TYPED paths back
    // out via variant_get. The BULK construction is to_variant_object
    // (struct → binary variant, no JSON text per row — the first
    // spelling serialized and re-parsed a JSON string per row and was
    // the registry's heaviest constant: 5.5 s solo at sf0.1, 97 s at
    // sf3); the parse_json TEXT path stays covered on a deterministic
    // 1/997 key sample whose variant must agree with the binary one
    // (n_parsed counts the agreements — the oracle pins it to the
    // sample size, so a parse/construct divergence breaks the hash).
    // The numeric field rides as an exact integer so no representation
    // drift is possible.
    "q_variant_json" -> { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("g_li_variant")
      s.sql(
        """SELECT variant_get(v, '$.flag', 'string') AS flag,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(variant_get(v, '$.qty', 'long')) AS BIGINT)
          |    AS sum_qty,
          |  CAST(count(DISTINCT variant_get(v, '$.status', 'string'))
          |    AS BIGINT) AS n_status,
          |  CAST(sum(CASE WHEN variant_get(pv, '$.flag', 'string')
          |      = variant_get(v, '$.flag', 'string')
          |    THEN 1 ELSE 0 END) AS BIGINT) AS n_parsed
          |FROM (
          |  SELECT to_variant_object(named_struct(
          |    'flag', l_returnflag,
          |    'qty', CAST(floor(l_quantity) AS BIGINT),
          |    'status', l_linestatus)) AS v,
          |  CASE WHEN l_orderkey % 997 = 0 THEN
          |    parse_json(to_json(named_struct('flag', l_returnflag)))
          |  END AS pv
          |  FROM g_li_variant)
          |GROUP BY 1
          |ORDER BY flag""".stripMargin)
    },

    // Collated JOIN keys (Spark 4.0) — the join-path half of the
    // collation surface (q_collation_group covers the aggregation
    // half): an equality JOIN whose key is UTF8_LCASE must hash case
    // variants into the same bucket on BOTH sides of the exchange, so a
    // case-mangled fact side still matches an all-lowercase dimension.
    // The dim is built from the fact's own distinct segments (lowered),
    // so every fact row must survive the inner join — any collation-
    // hashing mismatch drops rows and breaks the per-segment counts.
    // Oracle spells the same join with lower() keys.
    "q_collated_join" -> { (s, dir) =>
      t(s, dir, "customer").createOrReplaceTempView("g_cust_collate")
      s.sql(
        """WITH fact AS (
          |  SELECT CAST(CASE WHEN c_custkey % 2 = 0
          |      THEN lower(c_mktsegment) ELSE c_mktsegment END
          |    AS STRING COLLATE UTF8_LCASE) AS seg,
          |    c_acctbal
          |  FROM g_cust_collate),
          |dim AS (
          |  SELECT CAST(lower(c_mktsegment) AS STRING COLLATE UTF8_LCASE)
          |    AS dseg, count(*) AS dim_n
          |  FROM g_cust_collate GROUP BY 1)
          |SELECT lower(dseg) AS segment,
          |  CAST(count(*) AS BIGINT) AS n_joined,
          |  CAST(max(dim_n) AS BIGINT) AS dim_n,
          |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)
          |    AS DOUBLE) AS bal
          |FROM fact JOIN dim ON seg = dseg
          |GROUP BY lower(dseg)
          |ORDER BY segment""".stripMargin)
    },

    // Right-to-be-forgotten propagation — the GDPR/CCPA deletion job a
    // governed corpus runs on every erasure batch: a deterministic
    // forget set (md5-derived, ~1/16 of users — reproducible across
    // engines, never rand()), the fact stream anti-joined against it,
    // and surviving rows PSEUDONYMIZED with a salted hash so the
    // published table carries no raw ids. The audit row proves all
    // three properties at once: the dropped/kept split sums to the
    // corpus, no forgotten user survives (leaked = 0 via a count over
    // the kept side), and pseudonymization is injective on the kept
    // users (distinct pseudonyms = distinct kept users). One scan +
    // broadcast anti-join (the forget set is a user-domain aggregate);
    // at 100 TB this is a shuffle-free pass over events.
    "q_forget_users" -> { (s, dir) =>
      val forget = events(s, dir)
        .select(col("user_id")).distinct()
        .filter(conv(substring(md5(col("user_id").cast("string")), 16, 1),
          16, 10).cast("long") === 0L)
      val ev = events(s, dir)
        .join(broadcast(forget.withColumnRenamed("user_id", "fuid")),
          col("user_id") === col("fuid"), "left")
      val kept = ev.filter(col("fuid").isNull)
        .withColumn("pseudonym",
          substring(md5(concat(lit("graft-salt-1:"),
            col("user_id").cast("string"))), 1, 12))
      kept.agg(
          count(lit(1)).as("n_events_kept"),
          count_distinct(col("pseudonym")).as("n_pseudonyms"),
          count_distinct(col("user_id")).as("n_kept_users"))
        .crossJoin(broadcast(ev.filter(col("fuid").isNotNull)
          .agg(count(lit(1)).as("n_events_dropped"),
            count_distinct(col("user_id")).as("n_forgotten_users"))))
        .select(col("n_forgotten_users"), col("n_events_dropped"),
          col("n_events_kept"), col("n_kept_users"),
          (col("n_pseudonyms") === col("n_kept_users"))
            .as("pseudonym_injective"))
    },

    // Sample-ratio-mismatch (SRM) check — the first gate an
    // experimentation platform runs on every experiment: users assigned
    // to arms by a DETERMINISTIC hash (md5 LSB — reproducible across
    // engines, sessions and reruns; never rand()), arm counts compared
    // to the expected 50/50 with a one-df chi-square. All counting is
    // exact integers; the chi2 statistic divides exact integers once,
    // spelled identically in both engines.
    "q_srm_check" -> { (s, dir) =>
      val arms = t(s, dir, "customer")
        .select((conv(substring(md5(col("c_custkey").cast("string")),
          16, 1), 16, 10).cast("long") % 2).as("arm"))
        .groupBy("arm").agg(count(lit(1)).as("n"))
      arms.agg(
          sum(when(col("arm") === 0, col("n")).otherwise(0L)).cast("long")
            .as("n_control"),
          sum(when(col("arm") === 1, col("n")).otherwise(0L)).cast("long")
            .as("n_treat"))
        .select(col("n_control"), col("n_treat"),
          round(expr("""(n_control - n_treat) * (n_control - n_treat) /
            (1.0D * (n_control + n_treat))"""), 6).as("chi2"),
          expr("""(n_control - n_treat) * (n_control - n_treat) * 100 <=
            384 * (n_control + n_treat)""").as("srm_pass"))
    },

    // TPC-H Q6 shape (forecast revenue change): the canonical
    // single-table band filter-aggregate — year, discount band,
    // quantity cap, all pushed into the parquet scan (PushedFilters
    // carries the shipdate bounds and quantity cap; the discount band
    // compares the SAME stored doubles in both engines, so the cut is
    // identical). One partial-aggregated scan, one output row: what
    // revenue would have been gained by eliminating these discounts.
    "q6_forecast_revenue" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * col("l_discount"), 6)
            .as("revenue"))
    },

    // TPC-H Q9 shape (product-type profit by nation and year): the
    // 5-table join tree with a computed profit expression. partsupp's
    // supplycost doesn't exist in this schema, so unit cost is the
    // part's retail price (same expression shape: revenue minus
    // quantity-scaled cost). The p_name filter prunes part BEFORE the
    // join (the Q9 pattern the planner must preserve); nation is a
    // constant broadcast; profit terms are cast to decimal per-row so
    // the sum is exact and order-free in both engines.
    "q9_product_profit" -> { (s, dir) =>
      val parts = t(s, dir, "part")
        .filter(col("p_name").contains("bolt"))
        .select("p_partkey", "p_retailprice")
      t(s, dir, "lineitem")
        .join(parts, col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("l_shipdate")).as("o_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) -
          col("p_retailprice") * col("l_quantity"), 6).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },

    // TPC-H Q10 shape (returned-item losers): which customers sent the
    // most revenue back last quarter. lineitem pre-filtered to
    // returnflag='R', orders pre-filtered to the quarter — both filters
    // reach their scans before the fact-fact shuffle join; customer
    // joins on the order's key, nation broadcasts. Top 20 with a full
    // deterministic tie-break (revenue desc, then custkey).
    "q10_returned_items" -> { (s, dir) =>
      val ret = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      ret.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },

    // TPC-H Q14 shape (promo revenue share): what fraction of one
    // month's revenue came from promo parts. ONE conditional-sum pass
    // (never two scans), exact decimal terms, one double division at
    // the end rounded to the same grain in both engines.
    "q14_promo_share" -> { (s, dir) =>
      val parts = t(s, dir, "part").select("p_partkey", "p_type")
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-03-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .join(parts, col("l_partkey") === col("p_partkey"))
        .agg(
          dsum(when(col("p_type") === "PROMO",
            col("l_extendedprice") * (lit(1) - col("l_discount")))
            .otherwise(0), 6).as("promo_revenue"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
            .as("total_revenue"))
        .select(col("promo_revenue"), col("total_revenue"),
          round(lit(100) * col("promo_revenue") / col("total_revenue"), 6)
            .as("promo_share_pct"))
    },

    // TPC-H Q16 shape (supplier-count distribution per part attribute):
    // how many distinct suppliers ship each (brand, type, size) — the
    // assortment-breadth question. The partsupp-equivalent is the
    // distinct (part, supplier) pair set from lineitem (one
    // pre-aggregation, shuffles on the part key once); the brand/type
    // exclusions prune part before the join. Group count is bounded by
    // the attribute-combination space (|brands|x|types|x|sizes|), not
    // by rows, at any SF.
    "q16_part_suppliers" -> { (s, dir) =>
      val pairs = t(s, dir, "lineitem")
        .select("l_partkey", "l_suppkey").distinct()
      val parts = t(s, dir, "part")
        .filter(col("p_brand") =!= "Brand#5" && col("p_type") =!= "PROMO")
        .select("p_partkey", "p_brand", "p_type", "p_size")
      pairs.join(parts, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(count_distinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },

    // Revenue bridge (price/volume decomposition) — the FP&A question
    // behind every period-over-period revenue delta: per brand, how
    // much of ΔR came from shipping MORE (volume at old prices,
    // (q2−q1)·r1/q1) vs charging MORE (new volume at the price delta,
    // q2·(r2/q2 − r1/q1))? Both periods aggregate in ONE partial-agg
    // pass (conditional sums on the shipdate split — never two scans),
    // joined to the brand dimension once; per-brand unit prices divide
    // exact decimal totals once each, and the additive identity
    // vol + price = ΔR is emitted as an integer-checked audit column.
    "q_revenue_bridge" -> { (s, dir) =>
      val split = to_timestamp(lit("1998-06-01"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val p1 = col("l_shipdate") < split
      val per = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          sum(when(p1, col("l_quantity")).otherwise(lit(0))
            .cast(DecimalType(18, 2))).as("q1"),
          sum(when(!p1, col("l_quantity")).otherwise(lit(0))
            .cast(DecimalType(18, 2))).as("q2"),
          sum(when(p1, rev).otherwise(lit(0)).cast(DecimalType(18, 6)))
            .as("r1"),
          sum(when(!p1, rev).otherwise(lit(0)).cast(DecimalType(18, 6)))
            .as("r2"))
        .filter(col("q1") > 0 && col("q2") > 0)
      val (q1d, q2d) = (col("q1").cast("double"), col("q2").cast("double"))
      val (r1d, r2d) = (col("r1").cast("double"), col("r2").cast("double"))
      per.select(col("p_brand"),
          round(r1d, 2).as("rev_p1"), round(r2d, 2).as("rev_p2"),
          round((q2d - q1d) * (r1d / q1d), 2).as("volume_effect"),
          round(q2d * (r2d / q2d - r1d / q1d), 2).as("price_effect"),
          (round((q2d - q1d) * (r1d / q1d) +
            q2d * (r2d / q2d - r1d / q1d), 2) ===
            round(r2d - r1d, 2)).as("bridge_closes"))
        .orderBy("p_brand")
    },

    // ABC (Pareto) classification — value-threshold classes, the
    // complement of equal-count deciles: brands ranked by revenue
    // descending, classified by CUMULATIVE share (A ≤ 80%, B ≤ 95%,
    // C the tail). Revenue is summed in integer CENTS; the running
    // total comes from PrefixSum's two-phase distributed scan (never a
    // single-partition `SUM OVER (ORDER BY …)`), and the class cuts
    // are integer CROSS-MULTIPLIED (5·cum ≤ 4·total), so the
    // boundaries are exact at any scale. The per-class rollup is a
    // 3-row result.
    "q_abc_parts" -> { (s, dir) =>
      // round(x*100, 0) — an exactly-integral double — then cast: the
      // round(x,2)*100 spelling lands at N−1e-12 doubles, which Spark's
      // long cast TRUNCATES and DuckDB's ROUNDS (off-by-one cents)
      val cents = sum(round(col("l_extendedprice") *
        (lit(1) - col("l_discount")) * 100, 0).cast("long"))
      val per = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(cents.as("rev_cents"))
        .withColumn("neg_rev", -col("rev_cents"))
      val tot = per.agg(sum(col("rev_cents")).cast("long").as("total"))
      // per-BRAND rows: bounded by the brand catalog (an enum-ish
      // dimension), not by lineitem volume — the bounded prefix path
      // replaces the two-phase machinery's fixed costs
      graft.ops.PrefixSum
        .withExclusivePrefixBounded(per, Seq("neg_rev", "p_brand"),
          "rev_cents")
        .crossJoin(broadcast(tot)) // scalar aggregate — sanctioned
        .withColumn("cum", col("prefix").cast("long") + col("rev_cents"))
        .withColumn("abc_class",
          when(col("cum") * 5 <= col("total") * 4, "A")
            .when(col("cum") * 20 <= col("total") * 19, "B")
            .otherwise("C"))
        .groupBy("abc_class")
        .agg(count(lit(1)).as("n_brands"),
          (sum(col("rev_cents")).cast("double") / 100).as("revenue"))
        .orderBy("abc_class")
    },

    // 2-D skyline (Pareto frontier) — the multi-objective shortlist
    // query: parts where no other part is both cheaper AND larger. A
    // (price, size) point survives iff its size strictly exceeds the
    // running max of size over all strictly-cheaper prices — an
    // EXCLUSIVE prefix-max in price order, computed by
    // [[graft.ops.PrefixScan]]'s two-phase distributed scan (never the
    // `MAX OVER (ORDER BY …)` single-partition window). The corpus
    // first reduces to the per-price max-size frame (bounded by the
    // price domain); duplicate parts at a surviving point ride along as
    // a count. Integer-exact end to end.
    "q_skyline" -> { (s, dir) =>
      val ps = t(s, dir, "part")
        .groupBy(col("p_retailprice").as("price"),
          col("p_size").cast("long").as("size"))
        .agg(count(lit(1)).as("n_parts"))
      val pm = ps.groupBy("price").agg(max(col("size")).as("max_size"))
      val cand = ps.join(pm, Seq("price"))
        .filter(col("size") === col("max_size"))
        .select("price", "size", "n_parts")
      graft.ops.PrefixScan
        .withExclusivePrefixMax(cand, Seq("price"), "size")
        .filter(col("size") > col("prefix_max"))
        .select(col("price").as("p_retailprice"),
          col("size").as("p_size"), col("n_parts"))
        .orderBy("p_retailprice")
    },

    // Join fan-out profile — the histogram of lines per order: the
    // number every orders⋈lineitem shuffle multiplies by, read BEFORE
    // deciding whether the join needs salting (q_skew_report's
    // companion on the fact-fact key). Two bounded aggregates; the
    // histogram's group count is capped by max basket size.
    "q_order_fanout" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_lines"))
        .groupBy("n_lines").agg(count(lit(1)).as("n_orders"))
        .orderBy("n_lines")
    },

    // TPC-H Q7 shape (volume shipping): revenue flowing between two
    // specific nations in either direction, by supplier-nation /
    // customer-nation / ship year. The two constant nation dimensions
    // broadcast; customer and supplier (scaling) shuffle under AQE;
    // the disjunctive nation-pair predicate prunes BEFORE the fact
    // joins. Exact-decimal revenue.
    "q7_trade_volume" -> { (s, dir) =>
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer").select("c_custkey", "c_nationkey"),
          col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sk"))
        .join(broadcast(n2), col("c_nationkey") === col("ck"))
        .filter(
          (col("supp_nation") === "NATION_1" &&
            col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 6)
          .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },

    // Discount effectiveness — does discounting move volume? Line
    // items banded by discount percent (exact integer cents-of-percent
    // cuts: round(disc·100) ∈ {0, 1-3, 4-6, 7+}), per band the line
    // count and mean quantity. One partial-aggregated pass; 4 rows.
    "q_discount_bands" -> { (s, dir) =>
      val dpct = round(col("l_discount") * 100, 0).cast("long")
      t(s, dir, "lineitem")
        .select(
          when(dpct === 0, "0_none")
            .when(dpct <= 3, "1_low")
            .when(dpct <= 6, "2_mid")
            .otherwise("3_deep").as("band"),
          col("l_quantity"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .select(col("band"), col("n_lines"),
          round(col("sum_qty").cast("double") / col("n_lines"), 6)
            .as("avg_qty"))
        .orderBy("band")
    },

    // Supplier concentration (Herfindahl–Hirschman index) per nation —
    // the antitrust-style concentration scalar: HHI = Σ share², with
    // shares of supplier revenue within the nation. Revenue is integer
    // cents; HHI = Σr² / (Σr)² with DECIMAL(38,0) cross products, so
    // both terms are exact and the single division happens once,
    // rounded 6 (1/n_suppliers ≤ HHI ≤ 1).
    "q_supplier_hhi" -> { (s, dir) =>
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val perSup = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier").select("s_suppkey", "s_nationkey"),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("l_suppkey"))
        .agg(sum(round(col("l_extendedprice") *
          (lit(1) - col("l_discount")) * 100, 0).cast("long"))
          .as("r"))
      perSup.groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"),
          sum(col("r")).cast("long").as("tot"),
          sum(d38(col("r")) * d38(col("r"))).as("ss"))
        .select(col("s_nationkey"), col("n_suppliers"),
          round(col("ss").cast("double") /
            (d38(col("tot")) * d38(col("tot"))).cast("double"), 6)
            .as("hhi"))
        .orderBy("s_nationkey")
    },

    // Assortment sell-through — what share of each brand's catalog has
    // EVER sold: distinct sold parts per brand (one distinct-aggregate
    // over the fact, keyed on the part) against the catalog count. The
    // dead-stock diagnostic; rates divide two integers once.
    "q_sell_through" -> { (s, dir) =>
      val p = t(s, dir, "part").select("p_partkey", "p_brand")
      val sold = t(s, dir, "lineitem").select("l_partkey").distinct()
        .join(p, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand").agg(count(lit(1)).as("n_sold"))
      val catalog = p.groupBy("p_brand").agg(count(lit(1)).as("n_catalog"))
      catalog.join(sold, Seq("p_brand"), "left")
        .select(col("p_brand"), col("n_catalog"),
          coalesce(col("n_sold"), lit(0L)).as("n_sold"),
          round(coalesce(col("n_sold"), lit(0L)).cast("double") /
            col("n_catalog"), 6).as("sell_through"))
        .orderBy("p_brand")
    },

    // SLA attainment by priority — the compliance report an ops desk
    // reads daily: per order priority, the share of orders whose FIRST
    // shipment left within 30/90 days of the order date. First-ship is
    // a per-order min (partial-aggregated); day gaps are exact integer
    // date arithmetic; each rate divides two integers once, rounded 6.
    "q_sla_attainment" -> { (s, dir) =>
      val firstShip = t(s, dir, "lineitem")
        .groupBy("l_orderkey").agg(min(col("l_shipdate")).as("fs"))
      t(s, dir, "orders")
        .join(firstShip, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("fs"), col("o_orderdate")).as("gap_days"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("gap_days") <= 30, 1).otherwise(0)).cast("long")
            .as("n_within_30d"),
          sum(when(col("gap_days") <= 90, 1).otherwise(0)).cast("long")
            .as("n_within_90d"))
        .select(col("o_orderpriority"), col("n_orders"),
          round(col("n_within_30d").cast("double") / col("n_orders"), 6)
            .as("sla_30d"),
          round(col("n_within_90d").cast("double") / col("n_orders"), 6)
            .as("sla_90d"))
        .orderBy("o_orderpriority")
    },

    // XYZ demand-variability classification — q_abc_parts' canonical
    // companion (ABC ranks by value, XYZ by PREDICTABILITY): per brand,
    // the coefficient of variation of weekly demand, classed X
    // (CV ≤ 0.25, steady), Y (≤ 0.5) or Z (erratic). Weekly quantities
    // are exact integers; the class cuts are INTEGER CROSS-MULTIPLIED
    // on CV² (16·(n·Σq²−(Σq)²) ≤ (Σq)² ⟺ CV ≤ ¼) with DECIMAL(38,0)
    // cross products, so the classification is exact at any scale —
    // the reported cv is the only floating value and is one sqrt of
    // exact inputs.
    "q_xyz_parts" -> { (s, dir) =>
      val d38 = (c: Column) => c.cast("decimal(38,0)")
      val weekly = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"),
          date_trunc("week", col("l_shipdate")).as("wk"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      weekly.groupBy("p_brand")
        .agg(count(lit(1)).as("n_weeks"),
          sum(col("q")).cast("long").as("s1"),
          sum(d38(col("q")) * d38(col("q"))).as("s2"))
        .select(col("p_brand"), col("n_weeks"),
          round(col("s1").cast("double") / col("n_weeks"), 4)
            .as("mean_weekly"),
          round(sqrt((d38(col("n_weeks")) * col("s2") -
            d38(col("s1")) * d38(col("s1"))).cast("double")) /
            col("s1").cast("double"), 6).as("cv"),
          when((d38(col("n_weeks")) * col("s2") -
            d38(col("s1")) * d38(col("s1"))) * 16 <=
            d38(col("s1")) * d38(col("s1")), "X")
            .when((d38(col("n_weeks")) * col("s2") -
              d38(col("s1")) * d38(col("s1"))) * 4 <=
              d38(col("s1")) * d38(col("s1")), "Y")
            .otherwise("Z").as("xyz_class"))
        .orderBy("p_brand")
    },

    // Top movers — the period-over-period delta ranking behind every
    // "biggest gainers/losers" report: brand revenue in the two
    // shipdate halves from ONE conditional-sum pass (the
    // q_revenue_bridge split), ranked by absolute delta. Exact-decimal
    // sums; the top-10 is a distributed TakeOrdered with a full
    // tiebreak, never a global sort.
    // LATERAL correlated subquery — the SQL-standard per-row subquery
    // join (each outer row drives its own inner query), here the
    // canonical top-k-per-group spelling: each nation's two
    // highest-balance customers. Catalyst decorrelates the LIMIT-bearing
    // lateral into a join + per-group rank — no per-outer-row
    // re-execution survives into the physical plan, so this scales as a
    // partitioned window, not as |nations| queries. DuckDB runs the
    // identical SQL text.
    "q_lateral_topk" -> { (s, dir) =>
      t(s, dir, "nation").createOrReplaceTempView("g_nation_lat")
      t(s, dir, "customer").createOrReplaceTempView("g_customer_lat")
      s.sql(
        """SELECT n.n_name, t.c_name,
          |  CAST(t.c_acctbal AS DOUBLE) AS acctbal
          |FROM g_nation_lat n,
          |  LATERAL (SELECT c_name, c_acctbal FROM g_customer_lat
          |           WHERE c_nationkey = n.n_nationkey
          |           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
          |ORDER BY n.n_name, acctbal DESC, t.c_name""".stripMargin)
    },

    // SQL-defined scalar function (Spark 4 SQL UDF: CREATE FUNCTION ...
    // RETURN <expr>) — logic shared as a catalog object instead of a
    // black-box closure, so Catalyst INLINES the body into the plan
    // (constant folding, pushdown, codegen all still apply — none of
    // which a Scala udf() gets). The oracle inlines the same formula
    // textually; agreement proves definition-site and call-site
    // semantics match.
    "q_sql_udf" -> { (s, dir) =>
      // exact-decimal body: the inputs are 2-dp values riding in
      // doubles, so casting each factor to DECIMAL(12,2) makes the
      // product exact on both engines (a double product rounds
      // differently at half boundaries — the classic cross-engine flake)
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION g_margin(
              |  price DOUBLE, disc DOUBLE, tax DOUBLE)
              |RETURNS DECIMAL(18,6)
              |RETURN CAST(CAST(price AS DECIMAL(12,2))
              |  * CAST(1 - disc AS DECIMAL(12,2))
              |  * CAST(1 + tax AS DECIMAL(12,2)) AS DECIMAL(18,6))"""
          .stripMargin)
      t(s, dir, "lineitem").createOrReplaceTempView("g_lineitem_udf")
      s.sql(
        """SELECT l_returnflag,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(round(sum(
          |      g_margin(l_extendedprice, l_discount, l_tax)), 2)
          |    AS DOUBLE) AS margin_sum
          |FROM g_lineitem_udf
          |GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin)
    },

    "q_top_movers" -> { (s, dir) =>
      val split = to_timestamp(lit("1998-06-01"))
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val p1 = col("l_shipdate") < split
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(sum(when(p1, rev).otherwise(lit(0)).cast(DecimalType(18, 6)))
          .as("r1"),
          sum(when(!p1, rev).otherwise(lit(0)).cast(DecimalType(18, 6)))
            .as("r2"))
        .select(col("p_brand"),
          round(col("r1").cast("double"), 2).as("rev_p1"),
          round(col("r2").cast("double"), 2).as("rev_p2"),
          round((col("r2") - col("r1")).cast("double"), 2).as("delta"))
        .orderBy(abs(col("delta")).desc, col("p_brand"))
        .limit(10)
    },
  )

  def oracles: Map[String, String] = Map(
    "q_lateral_topk" ->
      """SELECT n.n_name, t.c_name, CAST(t.c_acctbal AS DOUBLE) AS acctbal
        |FROM nation n,
        |  LATERAL (SELECT c_name, c_acctbal FROM customer
        |           WHERE c_nationkey = n.n_nationkey
        |           ORDER BY c_acctbal DESC, c_name LIMIT 2) t
        |ORDER BY n.n_name, acctbal DESC, t.c_name""".stripMargin,

    // the UDF body inlined textually — definition-site parity
    "q_sql_udf" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(CAST(l_extendedprice AS DECIMAL(12,2))
        |      * CAST(1 - l_discount AS DECIMAL(12,2))
        |      * CAST(1 + l_tax AS DECIMAL(12,2)) AS DECIMAL(18,6))), 2)
        |    AS DOUBLE) AS margin_sum
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_corr_matrix" -> graft.stats.Correlation.pairwiseCorrSql(
      "lineitem", Seq("l_quantity", "l_extendedprice", "l_discount",
        "l_tax")),

    "q_approx_quantiles" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
        |  round(quantile_cont(o_totalprice, 0.95), 4) AS p95_exact,
        |  TRUE AS p50_ok, TRUE AS p95_ok
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q1_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity", 2)} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_top_orders" ->
      s"""SELECT o_orderkey,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1999-01-01'
         |  AND l_shipdate > TIMESTAMP '1999-01-01'
         |GROUP BY o_orderkey
         |ORDER BY revenue DESC, o_orderkey
         |LIMIT 10""".stripMargin,

    "q5_nation_revenue" ->
      s"""SELECT n_name,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name IN ('ASIA', 'EUROPE')
         |GROUP BY n_name
         |ORDER BY n_name""".stripMargin,

    "q_nullsafe_join" ->
      """WITH a AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN NULL
        |              ELSE doc_id % 50 END AS ka
        |  FROM documents WHERE doc_id % 3 = 0),
        |b AS (
        |  SELECT CASE WHEN doc_id % 7 = 0 THEN NULL
        |              ELSE doc_id % 50 END AS kb
        |  FROM documents WHERE doc_id % 5 = 0),
        |p AS (SELECT count(*) AS n_plain FROM a JOIN b ON ka = kb),
        |sf AS (SELECT count(*) AS n_nullsafe
        |       FROM a JOIN b ON ka IS NOT DISTINCT FROM kb),
        |na AS (SELECT CAST(sum(CASE WHEN ka IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null_a FROM a),
        |nb AS (SELECT CAST(sum(CASE WHEN kb IS NULL THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_null_b FROM b)
        |SELECT n_plain, n_nullsafe, n_null_a, n_null_b,
        |  n_nullsafe - n_plain = n_null_a * n_null_b AS reconciled
        |FROM p, sf, na, nb""".stripMargin,

    "q8_market_share" ->
      s"""WITH v AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |    l_extendedprice * (1 - l_discount) AS volume,
         |    n2.n_name AS supp_nation
         |  FROM lineitem
         |  JOIN part ON p_partkey = l_partkey
         |  JOIN supplier ON s_suppkey = l_suppkey
         |  JOIN orders ON o_orderkey = l_orderkey
         |  JOIN customer ON c_custkey = o_custkey
         |  JOIN nation n1 ON n1.n_nationkey = c_nationkey
         |  JOIN region ON r_regionkey = n1.n_regionkey
         |  JOIN nation n2 ON n2.n_nationkey = s_nationkey
         |  WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'),
         |a AS (
         |  SELECT o_year,
         |    ${dsumSql(
             "CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0.0 END",
             6)} AS nation_volume,
         |    ${dsumSql("volume", 6)} AS total_volume
         |  FROM v GROUP BY o_year)
         |SELECT o_year, nation_volume, total_volume,
         |  round(nation_volume / total_volume, 6) AS mkt_share
         |FROM a ORDER BY o_year""".stripMargin,

    "q_small_qty_revenue" ->
      s"""WITH pf AS (
         |  SELECT p_partkey, p_brand FROM part
         |  WHERE p_brand IN ('Brand#16', 'Brand#18')),
         |j AS (
         |  SELECT p_brand, l_quantity, l_extendedprice,
         |    SUM(CAST(l_quantity AS DECIMAL(18,6)))
         |      OVER (PARTITION BY l_partkey) AS sq,
         |    COUNT(*) OVER (PARTITION BY l_partkey) AS nq
         |  FROM lineitem JOIN pf ON l_partkey = p_partkey)
         |SELECT p_brand,
         |  round(${dsumSql("l_extendedprice", 6)} / 7.0, 2) AS avg_yearly,
         |  count(*) AS n_items
         |FROM j
         |WHERE CAST(l_quantity AS DECIMAL(18,6)) * 5 * nq < sq
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,

    "q18_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 250)
        |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        |  sum_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    // The reference correlated spelling — the engine's aggregate
    // decorrelation must match it exactly.
    "q21_blame_supplier" ->
      """WITH b AS (
        |  SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
        |  FROM lineitem l1
        |  JOIN orders o ON l1.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l1.l_shipdate > o.o_orderdate + INTERVAL 1900 DAY
        |    AND EXISTS (
        |      SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (
        |      SELECT 1 FROM lineitem l3
        |      WHERE l3.l_orderkey = l1.l_orderkey
        |        AND l3.l_suppkey <> l1.l_suppkey
        |        AND l3.l_shipdate > o.o_orderdate + INTERVAL 1900 DAY))
        |SELECT s_name, count(*) AS numwait
        |FROM b JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "q2_min_cost_supplier" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey,
        |    min(CAST(l_extendedprice AS DECIMAL(18,6))) AS supplycost
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |pf AS (
        |  SELECT p_partkey FROM part
        |  WHERE p_type = 'PROMO' AND p_size <= 25),
        |off AS (
        |  SELECT p_partkey, l_suppkey, supplycost
        |  FROM ps JOIN pf ON l_partkey = p_partkey),
        |mc AS (
        |  SELECT p_partkey AS mk, min(supplycost) AS min_cost
        |  FROM off GROUP BY p_partkey)
        |SELECT p_partkey, s_suppkey, s_name, n_name,
        |  CAST(supplycost AS DOUBLE) AS supplycost
        |FROM off
        |JOIN mc ON p_partkey = mk AND supplycost = min_cost
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |ORDER BY p_partkey, s_suppkey""".stripMargin,

    "q15_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,6))) AS rev_dec
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |mx AS (SELECT max(rev_dec) AS max_rev FROM rev)
        |SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        |FROM rev CROSS JOIN mx
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_dec = max_rev
        |ORDER BY s_suppkey""".stripMargin,

    "q20_excess_shippers" ->
      """WITH pf AS (
        |  SELECT p_partkey FROM part WHERE p_name LIKE 'large%'),
        |sh AS (
        |  SELECT l_partkey, l_suppkey,
        |    SUM(CAST(l_quantity AS DECIMAL(18,4))) AS q_all,
        |    SUM(CAST(CASE WHEN EXTRACT(YEAR FROM l_shipdate) = 1996
        |      THEN l_quantity ELSE 0 END AS DECIMAL(18,4))) AS q_win
        |  FROM lineitem GROUP BY l_partkey, l_suppkey),
        |el AS (
        |  SELECT DISTINCT l_suppkey FROM sh
        |  WHERE l_partkey IN (SELECT p_partkey FROM pf)
        |    AND q_win * 2 > q_all)
        |SELECT s_suppkey, s_name, n_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM el)
        |ORDER BY s_suppkey""".stripMargin,

    "q_k_anonymity" ->
      """WITH g AS (
        |  SELECT c_nationkey, c_mktsegment,
        |    CAST(count(*) AS BIGINT) AS k,
        |    count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS l
        |  FROM customer
        |  GROUP BY 1, 2)
        |SELECT count(*) AS n_qi_groups,
        |  min(k) AS k_anonymity,
        |  min(l) AS l_diversity,
        |  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_k_lt5,
        |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
        |    AS rows_k_lt5,
        |  CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS groups_l_lt3
        |FROM g""".stripMargin,

    // identical text, per the dialect-parity contract
    "q_group_by_all" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS total
        |FROM orders
        |GROUP BY ALL
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_identifier_clause" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY flag""".stripMargin,

    // the EXECUTE IMMEDIATE template with parameter + statement inlined
    "q_execute_immediate" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_quantity > 30
        |GROUP BY l_returnflag
        |ORDER BY flag""".stripMargin,

    // the session-variable threshold inlined as a CTE
    "q_session_variables" ->
      """WITH cut AS (
        |  SELECT CAST(sum(CAST(floor(l_quantity) AS BIGINT))
        |    // count(*) AS BIGINT) AS c
        |  FROM lineitem)
        |SELECT l_returnflag AS flag,
        |  (SELECT c FROM cut) AS qty_cut,
        |  CAST(sum(CASE WHEN l_quantity > (SELECT c FROM cut)
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY flag""".stripMargin,

    // the pipe chain's plain-SQL equivalent
    "q_pipe_syntax" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS total
        |FROM lineitem
        |WHERE l_quantity > 10
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // the VARIANT detour is an identity on these fields; n_parsed is
    // the 1/997 key sample (every sampled row's parsed variant must
    // agree with the binary construction)
    "q_variant_json" ->
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT)
        |    AS sum_qty,
        |  CAST(count(DISTINCT l_linestatus) AS BIGINT) AS n_status,
        |  CAST(sum(CASE WHEN l_orderkey % 997 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_parsed
        |FROM lineitem
        |GROUP BY 1
        |ORDER BY flag""".stripMargin,

    // UTF8_LCASE join semantics spelled with lower() keys
    "q_collated_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN c_custkey % 2 = 0
        |      THEN lower(c_mktsegment) ELSE c_mktsegment END AS seg,
        |    c_acctbal
        |  FROM customer),
        |dim AS (
        |  SELECT lower(c_mktsegment) AS dseg, count(*) AS dim_n
        |  FROM customer GROUP BY 1)
        |SELECT lower(dseg) AS segment,
        |  CAST(count(*) AS BIGINT) AS n_joined,
        |  CAST(max(dim_n) AS BIGINT) AS dim_n,
        |  CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2)
        |    AS DOUBLE) AS bal
        |FROM fact JOIN dim ON lower(seg) = dseg
        |GROUP BY lower(dseg)
        |ORDER BY segment""".stripMargin,

    "q_forget_users" ->
      """WITH f AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
        |    16, 1)) AS BIGINT) = 0),
        |kept AS (
        |  SELECT e.user_id,
        |    substr(md5('graft-salt-1:' || CAST(e.user_id AS VARCHAR)),
        |      1, 12) AS p
        |  FROM events e LEFT JOIN f ON e.user_id = f.user_id
        |  WHERE f.user_id IS NULL),
        |dropped AS (
        |  SELECT e.user_id FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM dropped)
        |    AS n_forgotten_users,
        |  (SELECT CAST(count(*) AS BIGINT) FROM dropped)
        |    AS n_events_dropped,
        |  CAST(count(*) AS BIGINT) AS n_events_kept,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_kept_users,
        |  count(DISTINCT p) = count(DISTINCT user_id)
        |    AS pseudonym_injective
        |FROM kept""".stripMargin,

    "q_srm_check" ->
      """WITH a AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
        |    16, 1)) AS BIGINT) % 2 AS arm
        |  FROM customer),
        |c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_control,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_treat
        |  FROM a)
        |SELECT n_control, n_treat,
        |  round((n_control - n_treat) * (n_control - n_treat) /
        |    (1.0 * (n_control + n_treat)), 6) AS chi2,
        |  (n_control - n_treat) * (n_control - n_treat) * 100 <=
        |    384 * (n_control + n_treat) AS srm_pass
        |FROM c""".stripMargin,

    "q6_forecast_revenue" ->
      """SELECT count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
        |    AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q9_product_profit" ->
      """SELECT n_name AS nation,
        |  CAST(EXTRACT(YEAR FROM l_shipdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) -
        |    p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%bolt%'
        |GROUP BY 1, 2
        |ORDER BY nation, o_year DESC""".stripMargin,

    "q10_returned_items" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin,

    "q14_promo_share" ->
      """WITH m AS (
        |  SELECT
        |    SUM(CAST(CASE WHEN p_type = 'PROMO'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(18,6))) AS promo_dec,
        |    SUM(CAST(l_extendedprice * (1 - l_discount)
        |      AS DECIMAL(18,6))) AS total_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01')
        |SELECT CAST(promo_dec AS DOUBLE) AS promo_revenue,
        |  CAST(total_dec AS DOUBLE) AS total_revenue,
        |  round(100 * CAST(promo_dec AS DOUBLE) /
        |    CAST(total_dec AS DOUBLE), 6) AS promo_share_pct
        |FROM m""".stripMargin,

    "q16_part_suppliers" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#5' AND p_type <> 'PROMO'
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q11_brand_share" ->
      """WITH per AS (
        |  SELECT p_brand,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS value_dec
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |tot AS (SELECT sum(value_dec) AS total_dec FROM per)
        |SELECT p_brand,
        |  round(CAST(value_dec AS DOUBLE), 2) AS brand_value,
        |  round(CAST(value_dec AS DOUBLE) / CAST(total_dec AS DOUBLE), 6)
        |    AS share
        |FROM per, tot
        |WHERE value_dec * 25 > total_dec
        |ORDER BY brand_value DESC, p_brand""".stripMargin,

    "q_poisson_bootstrap" ->
      """WITH base AS (
        |  SELECT c_mktsegment AS seg, o_orderkey,
        |    CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |rep AS (
        |  SELECT seg, cents, r.b AS b,
        |    CAST(('0x' || substr(md5(o_orderkey || '_' || r.b), 1, 4))
        |      AS BIGINT) AS h
        |  FROM base, range(32) r(b)),
        |wt AS (
        |  SELECT seg, b, cents,
        |    CASE WHEN h < 24109 THEN 0 WHEN h < 48219 THEN 1
        |         WHEN h < 60281 THEN 2 WHEN h < 64299 THEN 3
        |         ELSE 4 END AS w
        |  FROM rep),
        |m AS (
        |  SELECT seg,
        |    round(CAST(sum(w * cents) AS DOUBLE) / sum(w) / 100, 6)
        |      AS mean_b
        |  FROM wt GROUP BY seg, b),
        |p AS (
        |  SELECT seg, count(*) AS n_orders,
        |    round(CAST(sum(cents) AS DOUBLE) / count(*) / 100, 6)
        |      AS point_mean
        |  FROM base GROUP BY seg),
        |c AS (
        |  SELECT seg, list_sort(list(mean_b)) AS a FROM m GROUP BY seg)
        |SELECT p.seg, n_orders, point_mean, a[2] AS ci_lo,
        |  a[len(a) - 1] AS ci_hi
        |FROM p JOIN c ON p.seg = c.seg
        |ORDER BY p.seg""".stripMargin,

    "q_basket_pairs" ->
      """WITH li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (
        |  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |    count(*) AS n_both
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2
        |  ORDER BY n_both DESC, part_a, part_b
        |  LIMIT 5),
        |s AS (SELECT l_partkey, count(*) AS supp FROM li GROUP BY 1),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li)
        |SELECT part_a, part_b, n_both, sa.supp AS supp_a,
        |  sb.supp AS supp_b,
        |  round(CAST(n_both * n_orders AS DOUBLE) /
        |    CAST(sa.supp * sb.supp AS DOUBLE), 6) AS lift
        |FROM p
        |JOIN s sa ON sa.l_partkey = part_a
        |JOIN s sb ON sb.l_partkey = part_b
        |CROSS JOIN n
        |ORDER BY part_a, part_b""".stripMargin,

    // DuckDB twins: isodow (1=Monday) for weekday()+1, week() for
    // weekofyear, + INTERVAL 1 MONTH clamps like add_months.
    "q_calendar_semantics" ->
      """WITH d AS (SELECT o_orderdate AS d FROM orders),
        |e AS (
        |  SELECT CAST(date_trunc('month', d) AS DATE) AS m,
        |    CAST(day(last_day(d)) AS BIGINT) AS last_dom,
        |    CASE WHEN day(d + INTERVAL 1 MONTH) <> day(d)
        |         THEN 1 ELSE 0 END AS clamped,
        |    CAST(date_trunc('week', d) AS DATE) AS wk,
        |    CAST(isodow(d) AS BIGINT) AS isodow,
        |    CAST(week(d) AS BIGINT) AS woy
        |  FROM d)
        |SELECT m, count(*) AS n,
        |  max(last_dom) AS last_dom,
        |  CAST(sum(clamped) AS BIGINT) AS n_clamped,
        |  count(DISTINCT wk) AS n_weeks,
        |  CAST(sum(isodow) AS BIGINT) AS sum_isodow,
        |  CAST(sum(woy) AS BIGINT) AS sum_woy
        |FROM e
        |GROUP BY m
        |ORDER BY m""".stripMargin,

    // Standard-SQL spelling of the engine's pipe chain.
    "q_pipe_sql" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price
        |FROM lineitem
        |WHERE l_quantity >= 25
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_mktseg_stats" ->
      s"""SELECT c_mktsegment,
         |  count(*) AS n_customers,
         |  ${dsumSql("c_acctbal")} AS sum_acctbal,
         |  count(DISTINCT c_nationkey) AS n_nations,
         |  round(${dsumSql("c_acctbal")} / count(*), 4) AS avg_acctbal
         |FROM customer
         |GROUP BY c_mktsegment
         |ORDER BY c_mktsegment""".stripMargin,

    "q_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q_running_total" ->
      """SELECT o_custkey, o_orderkey,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS od_us,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DOUBLE) AS run_total
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, od_us, o_orderkey""".stripMargin,

    "q_blocked_editdist" ->
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  levenshtein(a.p_name, b.p_name) AS dist
        |FROM part a JOIN part b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        | AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 4
        |ORDER BY id_a, id_b""".stripMargin,

    "q_rolling_revenue" ->
      """WITH d AS (
        |  SELECT o_orderpriority AS pri, o_orderdate AS day,
        |    date_diff('day', DATE '1970-01-01', o_orderdate) AS day_num,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY 1, 2, 3)
        |SELECT pri, epoch_us(CAST(day AS TIMESTAMP)) AS day_us,
        |  CAST(rev AS DOUBLE) AS rev,
        |  CAST(SUM(rev) OVER (PARTITION BY pri ORDER BY day_num
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rev7
        |FROM d
        |QUALIFY day_num % 7 = 0
        |ORDER BY pri, day_us""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus""".stripMargin,

    "q_ntile_quartiles" ->
      """SELECT c_mktsegment, q, count(*) AS n,
        |  min(c_acctbal) AS lo, max(c_acctbal) AS hi
        |FROM (
        |  SELECT c_mktsegment, c_acctbal,
        |    ntile(4) OVER (PARTITION BY c_mktsegment
        |                   ORDER BY c_acctbal, c_custkey) AS q
        |  FROM customer)
        |GROUP BY c_mktsegment, q
        |ORDER BY c_mktsegment, q""".stripMargin,

    "q_percent_rank" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey, pr, cd FROM (
        |  SELECT c_custkey, c_mktsegment, c_nationkey,
        |    round(percent_rank() OVER (
        |      PARTITION BY c_mktsegment, c_nationkey
        |      ORDER BY c_acctbal, c_custkey), 6) AS pr,
        |    round(cume_dist() OVER (
        |      PARTITION BY c_mktsegment, c_nationkey
        |      ORDER BY c_acctbal, c_custkey), 6) AS cd
        |  FROM customer)
        |WHERE c_custkey % 50 = 0
        |ORDER BY c_custkey""".stripMargin,

    "q_topk_per_group" ->
      """SELECT o_orderpriority, rn AS rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rnk""".stripMargin,

    "q_rollup_flags" ->
      s"""SELECT coalesce(l_returnflag, 'ALL') AS rf,
         |  coalesce(l_linestatus, 'ALL') AS ls,
         |  count(*) AS n,
         |  ${dsumSql("l_quantity", 2)} AS sum_qty
         |FROM lineitem
         |GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY rf, ls""".stripMargin,

    "q_cube_status" ->
      s"""SELECT coalesce(o_orderpriority, 'ALL') AS pri,
         |  coalesce(o_orderstatus, 'ALL') AS st,
         |  CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
         |  count(*) AS n,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY CUBE(o_orderpriority, o_orderstatus)
         |ORDER BY gid, pri, st""".stripMargin,

    "q_unpivot_status" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS year,
         |  o_orderstatus AS status,
         |  ${dsumSql("o_totalprice")} AS price
         |FROM orders
         |GROUP BY year, status
         |ORDER BY year, status""".stripMargin,

    "q_pivot_status" ->
      s"""SELECT strftime(o_orderdate, '%Y') AS year,
         |  coalesce(${dsumSql("CASE WHEN o_orderstatus = 'F' " +
            "THEN o_totalprice END")}, 0.0) AS price_f,
         |  coalesce(${dsumSql("CASE WHEN o_orderstatus = 'O' " +
            "THEN o_totalprice END")}, 0.0) AS price_o,
         |  coalesce(${dsumSql("CASE WHEN o_orderstatus = 'P' " +
            "THEN o_totalprice END")}, 0.0) AS price_p
         |FROM orders
         |GROUP BY 1
         |ORDER BY year""".stripMargin,

    "q_order_backlog" ->
      s"""WITH mx AS (SELECT max(o_orderdate) AS mx FROM orders),
         |aged AS (
         |  SELECT o_totalprice,
         |    date_diff('day', CAST(o_orderdate AS DATE),
         |              CAST((SELECT mx FROM mx) AS DATE)) AS age_d
         |  FROM orders WHERE o_orderstatus = 'O')
         |SELECT CASE WHEN age_d < 90 THEN 'a_lt90'
         |            WHEN age_d < 365 THEN 'b_90to365'
         |            WHEN age_d < 730 THEN 'c_1to2y'
         |            ELSE 'd_gt2y' END AS bucket,
         |  count(*) AS n_orders,
         |  ${dsumSql("o_totalprice")} AS value_at_risk,
         |  CAST(max(age_d) AS BIGINT) AS max_age_days
         |FROM aged GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_join_cardinality" ->
      """WITH a AS (
        |  SELECT l_orderkey AS k, count(*) AS na
        |  FROM lineitem GROUP BY 1),
        |b AS (
        |  SELECT o_orderkey AS k, count(*) AS nb
        |  FROM orders GROUP BY 1)
        |SELECT count(*) AS n_keys_both,
        |  CAST(sum(na * nb) AS BIGINT) AS est_join_rows,
        |  CAST(max(na * nb) AS BIGINT) AS max_key_product
        |FROM a JOIN b ON a.k = b.k""".stripMargin,

    "q_fk_audit" ->
      """SELECT 'lineitem.l_orderkey->orders' AS fk,
        |  (SELECT count(*) FROM lineitem) AS n_rows,
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                     WHERE l.l_orderkey = o.o_orderkey))
        |    AS n_orphans
        |UNION ALL
        |SELECT 'lineitem.l_partkey->part',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM part p
        |                     WHERE l.l_partkey = p.p_partkey))
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |  (SELECT count(*) FROM lineitem),
        |  (SELECT count(*) FROM lineitem l
        |   WHERE NOT EXISTS (SELECT 1 FROM supplier s
        |                     WHERE l.l_suppkey = s.s_suppkey))
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  (SELECT count(*) FROM orders),
        |  (SELECT count(*) FROM orders o
        |   WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                     WHERE o.o_custkey = c.c_custkey))
        |ORDER BY fk""".stripMargin,

    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) = 1998
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE year(o_orderdate) >= 1999
        |ORDER BY custkey""".stripMargin,

    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT l_partkey) AS n_part,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_without_open
        |FROM customer
        |WHERE c_custkey NOT IN
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_with_big
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_totalprice > 200000.0)
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    "q_full_outer" ->
      """SELECT coalesce(o.d, e.d) AS day,
        |  coalesce(o.n_orders, 0) AS n_orders,
        |  coalesce(e.n_events, 0) AS n_events
        |FROM (SELECT strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d')
        |        AS d, count(*) AS n_orders
        |      FROM orders GROUP BY d) o
        |FULL OUTER JOIN
        |     (SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
        |        AS d, count(*) AS n_events
        |      FROM events GROUP BY d) e
        |  ON o.d = e.d
        |ORDER BY day""".stripMargin,

    "q_snapshot_diff" ->
      s"""WITH prev AS (
         |  SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS tp
         |  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
         |curr AS (
         |  SELECT o_orderkey AS k,
         |    CASE WHEN o_orderkey % 7 = 0 THEN 'X'
         |         ELSE o_orderstatus END AS st,
         |    o_totalprice AS tp
         |  FROM orders
         |  WHERE o_orderdate < TIMESTAMP '2000-01-01'
         |    AND o_orderkey % 11 <> 0)
         |SELECT CASE WHEN c.k IS NULL THEN 'removed'
         |            WHEN p.k IS NULL THEN 'added'
         |            WHEN p.st <> c.st THEN 'changed'
         |            ELSE 'unchanged' END AS change,
         |  count(*) AS n,
         |  ${Q.dsumSql("COALESCE(c.tp, p.tp)")} AS sum_price
         |FROM prev p FULL OUTER JOIN curr c ON p.k = c.k
         |GROUP BY 1
         |ORDER BY 1""".stripMargin,

    "q_intersect" ->
      """SELECT c_custkey AS custkey FROM customer
        |WHERE c_mktsegment = 'BUILDING'
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY custkey""".stripMargin,

    "q_orders_by_month" ->
      s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
         |  count(*) AS n_orders,
         |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
         |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
         |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p,
         |  ${dsumSql("o_totalprice")} AS sum_price
         |FROM orders
         |GROUP BY 1
         |ORDER BY month""".stripMargin,

    "q_part_brand_stats" ->
      """SELECT p_brand, count(*) AS n,
        |  min(p_retailprice) AS min_price,
        |  max(p_retailprice) AS max_price
        |FROM part
        |WHERE p_size >= 25
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,

    "q_salted_join" ->
      s"""SELECT o_orderpriority,
         |  count(*) AS n_items,
         |  ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,

    "q_bucketed_join" ->
      s"""SELECT o_orderstatus,
         |  count(*) AS n_items,
         |  ${dsumSql("l_quantity", 2)} AS sum_qty
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus
         |ORDER BY o_orderstatus""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_priority_nation" ->
      s"""SELECT o_orderpriority, n_name,
         |  count(*) AS n_items,
         |  ${dsumSql("l_extendedprice")} AS sum_price
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |GROUP BY o_orderpriority, n_name
         |ORDER BY o_orderpriority, n_name""".stripMargin,

    "q13_custdist" ->
      """WITH per AS (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer
        |  LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |SELECT c_count, count(*) AS custdist
        |FROM per
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q22_idle_rich" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(c_acctbal AS DECIMAL(18,6)) AS bal
        |  FROM customer),
        |a AS (
        |  SELECT SUM(bal) AS tot, count(*) AS n
        |  FROM c WHERE bal > 0)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(SUM(bal) AS DOUBLE) AS totacctbal
        |FROM c, a
        |WHERE bal * n > tot
        |  AND NOT EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |      AND o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q4_priority_exists" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 1400 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q12_shipmode_priority" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate < o_orderdate + INTERVAL 120 DAY
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q19_disjunctive" ->
      s"""SELECT p_brand, count(*) AS n_items,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)} AS revenue
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 1 AND 20)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 10 AND 30
         |       AND l_quantity BETWEEN 10 AND 35)
         |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
         |       AND l_quantity BETWEEN 20 AND 50)
         |GROUP BY p_brand
         |ORDER BY p_brand""".stripMargin,

    "q_revenue_bridge" ->
      """WITH per AS (
        |  SELECT p_brand,
        |    SUM(CAST(CASE WHEN l_shipdate < TIMESTAMP '1998-06-01'
        |      THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS q1,
        |    SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1998-06-01'
        |      THEN l_quantity ELSE 0 END AS DECIMAL(18,2))) AS q2,
        |    SUM(CAST(CASE WHEN l_shipdate < TIMESTAMP '1998-06-01'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(18,6))) AS r1,
        |    SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1998-06-01'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(18,6))) AS r2
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |d AS (
        |  SELECT p_brand,
        |    CAST(q1 AS DOUBLE) AS q1d, CAST(q2 AS DOUBLE) AS q2d,
        |    CAST(r1 AS DOUBLE) AS r1d, CAST(r2 AS DOUBLE) AS r2d
        |  FROM per WHERE q1 > 0 AND q2 > 0)
        |SELECT p_brand,
        |  round(r1d, 2) AS rev_p1, round(r2d, 2) AS rev_p2,
        |  round((q2d - q1d) * (r1d / q1d), 2) AS volume_effect,
        |  round(q2d * (r2d / q2d - r1d / q1d), 2) AS price_effect,
        |  round((q2d - q1d) * (r1d / q1d) +
        |        q2d * (r2d / q2d - r1d / q1d), 2)
        |    = round(r2d - r1d, 2) AS bridge_closes
        |FROM d
        |ORDER BY p_brand""".stripMargin,

    "q_abc_parts" ->
      """WITH per AS (
        |  SELECT p_brand,
        |    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100,
        |      0) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand),
        |c AS (
        |  SELECT p_brand, rev_cents,
        |    sum(rev_cents) OVER (ORDER BY rev_cents DESC, p_brand
        |                         ROWS UNBOUNDED PRECEDING) AS cum,
        |    (SELECT sum(rev_cents) FROM per) AS total
        |  FROM per)
        |SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
        |            WHEN cum * 20 <= total * 19 THEN 'B'
        |            ELSE 'C' END AS abc_class,
        |  count(*) AS n_brands,
        |  CAST(sum(rev_cents) AS DOUBLE) / 100 AS revenue
        |FROM c
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_skyline" ->
      """WITH ps AS (
        |  SELECT p_retailprice AS price, CAST(p_size AS BIGINT) AS size,
        |    count(*) AS n_parts
        |  FROM part GROUP BY 1, 2),
        |pm AS (SELECT price, max(size) AS max_size FROM ps GROUP BY 1),
        |cand AS (
        |  SELECT ps.price, ps.size, ps.n_parts
        |  FROM ps JOIN pm ON ps.price = pm.price
        |    AND ps.size = pm.max_size),
        |sc AS (
        |  SELECT price, size, n_parts,
        |    max(size) OVER (ORDER BY price
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM cand)
        |SELECT price AS p_retailprice, size AS p_size, n_parts
        |FROM sc
        |WHERE pmax IS NULL OR size > pmax
        |ORDER BY p_retailprice""".stripMargin,

    "q_order_fanout" ->
      """WITH per AS (
        |  SELECT l_orderkey, count(*) AS n_lines
        |  FROM lineitem GROUP BY 1)
        |SELECT n_lines, count(*) AS n_orders
        |FROM per
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q7_trade_volume" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)", 6)}
         |    AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin,

    "q_discount_bands" ->
      """WITH b AS (
        |  SELECT CASE
        |      WHEN CAST(round(l_discount * 100, 0) AS BIGINT) = 0
        |        THEN '0_none'
        |      WHEN CAST(round(l_discount * 100, 0) AS BIGINT) <= 3
        |        THEN '1_low'
        |      WHEN CAST(round(l_discount * 100, 0) AS BIGINT) <= 6
        |        THEN '2_mid'
        |      ELSE '3_deep' END AS band,
        |    l_quantity
        |  FROM lineitem)
        |SELECT band, count(*) AS n_lines,
        |  round(CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
        |    / count(*), 6) AS avg_qty
        |FROM b
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_supplier_hhi" ->
      """WITH per AS (
        |  SELECT s_nationkey, l_suppkey,
        |    CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
        |      * 100, 0) AS BIGINT)) AS BIGINT) AS r
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2)
        |SELECT s_nationkey, count(*) AS n_suppliers,
        |  round(CAST(SUM(CAST(r AS DECIMAL(38,0)) *
        |      CAST(r AS DECIMAL(38,0))) AS DOUBLE) /
        |    CAST(CAST(CAST(SUM(r) AS BIGINT) AS DECIMAL(38,0)) *
        |      CAST(CAST(SUM(r) AS BIGINT) AS DECIMAL(38,0)) AS DOUBLE),
        |    6) AS hhi
        |FROM per
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_sell_through" ->
      """WITH sold AS (
        |  SELECT p_brand, count(*) AS n_sold FROM (
        |    SELECT DISTINCT l_partkey FROM lineitem) s
        |  JOIN part ON s.l_partkey = p_partkey
        |  GROUP BY p_brand),
        |cat AS (
        |  SELECT p_brand, count(*) AS n_catalog
        |  FROM part GROUP BY p_brand)
        |SELECT cat.p_brand, cat.n_catalog,
        |  CAST(COALESCE(sold.n_sold, 0) AS BIGINT) AS n_sold,
        |  round(CAST(COALESCE(sold.n_sold, 0) AS DOUBLE) /
        |    cat.n_catalog, 6) AS sell_through
        |FROM cat LEFT JOIN sold ON cat.p_brand = sold.p_brand
        |ORDER BY cat.p_brand""".stripMargin,

    "q_sla_attainment" ->
      """WITH fs AS (
        |  SELECT l_orderkey, min(l_shipdate) AS fs
        |  FROM lineitem GROUP BY 1),
        |g AS (
        |  SELECT o_orderpriority,
        |    datediff('day', o_orderdate, fs) AS gap_days
        |  FROM orders JOIN fs ON o_orderkey = l_orderkey)
        |SELECT o_orderpriority, count(*) AS n_orders,
        |  round(CAST(SUM(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS sla_30d,
        |  round(CAST(SUM(CASE WHEN gap_days <= 90 THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 6) AS sla_90d
        |FROM g
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_xyz_parts" ->
      """WITH weekly AS (
        |  SELECT p_brand,
        |    date_trunc('week', CAST(l_shipdate AS TIMESTAMP)) AS wk,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2),
        |m AS (
        |  SELECT p_brand, count(*) AS n_weeks,
        |    CAST(sum(q) AS BIGINT) AS s1,
        |    sum(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0)))
        |      AS s2
        |  FROM weekly GROUP BY 1)
        |SELECT p_brand, n_weeks,
        |  round(CAST(s1 AS DOUBLE) / n_weeks, 4) AS mean_weekly,
        |  round(sqrt(CAST(CAST(n_weeks AS DECIMAL(38,0)) * s2 -
        |      CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))
        |    AS DOUBLE)) / CAST(s1 AS DOUBLE), 6) AS cv,
        |  CASE WHEN (CAST(n_weeks AS DECIMAL(38,0)) * s2 -
        |        CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))
        |        * 16 <=
        |        CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))
        |      THEN 'X'
        |      WHEN (CAST(n_weeks AS DECIMAL(38,0)) * s2 -
        |        CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0)))
        |        * 4 <=
        |        CAST(s1 AS DECIMAL(38,0)) * CAST(s1 AS DECIMAL(38,0))
        |      THEN 'Y' ELSE 'Z' END AS xyz_class
        |FROM m
        |ORDER BY p_brand""".stripMargin,

    "q_top_movers" ->
      """WITH per AS (
        |  SELECT p_brand,
        |    SUM(CAST(CASE WHEN l_shipdate < TIMESTAMP '1998-06-01'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(18,6))) AS r1,
        |    SUM(CAST(CASE WHEN l_shipdate >= TIMESTAMP '1998-06-01'
        |      THEN l_extendedprice * (1 - l_discount) ELSE 0 END
        |      AS DECIMAL(18,6))) AS r2
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand)
        |SELECT p_brand,
        |  round(CAST(r1 AS DOUBLE), 2) AS rev_p1,
        |  round(CAST(r2 AS DOUBLE), 2) AS rev_p2,
        |  round(CAST(r2 - r1 AS DOUBLE), 2) AS delta
        |FROM per
        |ORDER BY abs(round(CAST(r2 - r1 AS DOUBLE), 2)) DESC, p_brand
        |LIMIT 10""".stripMargin,
  )
}

package graft.queries

import graft.queries.Q._
import graft.streaming.Sessionize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Event-stream analytics over the `events` table: sessionization (both
  * lag-gap and the built-in `session_window`, checked against the same
  * oracle), event-time daily windows, JSON prop extraction, and a
  * time-bounded funnel self-join.
  *
  * Timestamps: `Q.events` / `Q.eventsStream` normalize whatever physical
  * encoding the driver wrote (nanos-INT64 or `timestamp[us]`) to a
  * session-zoned microsecond TIMESTAMP, the same value the oracle's
  * `CAST(ts AS TIMESTAMP)` yields; all arithmetic is then done in integral
  * microseconds (`unix_micros` / `epoch_us`) so the two engines agree
  * bit-for-bit.
  *
  * Scale: sessionization shuffles once on user_id (hash-partitioned window;
  * no global sort); the funnel join shuffles both sides on user_id and
  * applies the time predicate post-join — the standard shape AQE handles
  * well under skew.
  *
  * Streaming: every gate that starts a stream does so through
  * [[StreamGate]], which owns the state width, the state-store provider,
  * the sink and its drain. A gate body names only its query, its sink
  * shape (memory, exact-count drain or parquet) and its state store.
  */
object EventQueries {

  private val GapUs: Long = 1800L * 1000000L // 30 min session gap

  /** Oracle-side twin of [[ev2]] (exact integer micros). */
  private val ev2Sql =
    """ev2 AS (
      |  SELECT user_id, event_id, event_type, value,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |  FROM events)""".stripMargin

  /** events projected to exact integer time + hour bucket. */
  private def ev2(s: SparkSession, dir: String): DataFrame =
    events(s, dir).select(col("user_id"), col("event_id"),
      col("event_type"), col("value"),
      unix_micros(col("ts")).as("us"),
      expr("unix_micros(ts) div 3600000000").as("hb"))

  /** events with per-user break flags: brk=1 starts a new session. */
  private def withBreaks(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, dir)
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("brk",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > GapUs, 1).otherwise(0))
  }

  /** Per-user session counts of a closed-session emission. */
  private def perUserSessions(sessions: DataFrame): DataFrame =
    sessions.groupBy("user_id")
      .agg(count(lit(1)).cast("long").as("n_sessions"),
        sum(col("n_events")).cast("long").as("n_events"))
      .orderBy("user_id")

  /** The custom-state gap-sessionization pipeline shared by
    * q_stream_state_sessions (default HDFS-backed store) and
    * q_stream_rocksdb_sessions (RocksDB provider): run the stateful
    * query on `store`, return per-user session counts. Both gates answer
    * to the identical oracle, so a provider swap that changed ANY emitted
    * row would hash-mismatch.
    */
  private def stateSessionCounts(s: SparkSession, dir: String, gate: String,
                                 store: StreamGate.Store): DataFrame = {
    import s.implicits._
    val stream = eventsStream(s, dir)
      .select(col("user_id"), col("ts"))
      .as[graft.streaming.UserEvent]
    val sessions = graft.streaming.Stateful
      .statefulSessions(stream, GapUs / 1000L, "0 seconds")
    // Parquet file sink instead of a memory sink (the r14 sf10 lesson):
    // the emission is the full CLOSED-SESSION set — corpus-sized — and a
    // memory sink both holds it on the driver heap and re-serializes it
    // into every task of the downstream aggregate (LocalRelation →
    // ParallelCollectionRDD, java-serialized per task: the observed sf10
    // OOM). The per-user STATE stays on whichever provider the caller
    // chose — that contrast is these gates' point.
    StreamGate.parquet(s, dir, gate, sessions, store) { (out, _) =>
      perUserSessions(s.read.parquet(out))
    }
  }

  /** The HELD state at stream end — each user's last session, kept iff
    * its gap horizon is at or past the final watermark: the exact
    * relational complement of [[stateSessionsOracle]]'s emit rule.
    * Shared by the v1 (fMGWS) and v2 (TWS named-variable) state-store
    * reader gates: held state is a property of the emission semantics,
    * not of the state API.
    */
  private lazy val openStateOracle: String = {
    val gapMs = GapUs / 1000L
    s"""WITH ev AS (
       |  SELECT user_id, event_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
       |  FROM events),
       |b AS (
       |  SELECT user_id, event_id, ms,
       |    CASE WHEN lag(ms) OVER (PARTITION BY user_id
       |                            ORDER BY ms, event_id) IS NULL
       |      OR ms - lag(ms) OVER (PARTITION BY user_id
       |                            ORDER BY ms, event_id) > $gapMs
       |      THEN 1 ELSE 0 END AS brk
       |  FROM ev),
       |sb AS (
       |  SELECT user_id, ms,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM b),
       |sess AS (
       |  SELECT user_id, sid, min(ms) AS st, max(ms) AS e,
       |    count(*) AS n
       |  FROM sb GROUP BY user_id, sid)
       |SELECT user_id, st AS start_ms, e AS end_ms,
       |  CAST(n AS BIGINT) AS n_open_events
       |FROM (
       |  SELECT user_id, st, e, n,
       |    max(sid) OVER (PARTITION BY user_id) AS max_sid, sid
       |  FROM sess)
       |WHERE sid = max_sid
       |  AND e + $gapMs >= (SELECT max(ms) FROM ev)
       |ORDER BY user_id""".stripMargin
  }

  private lazy val stateSessionsOracle: String = {
    val gapMs = GapUs / 1000L
    s"""WITH ev AS (
       |  SELECT user_id, event_id,
       |    epoch_us(CAST(ts AS TIMESTAMP)) // 1000 AS ms
       |  FROM events),
       |b AS (
       |  SELECT user_id, event_id, ms,
       |    CASE WHEN lag(ms) OVER (PARTITION BY user_id
       |                            ORDER BY ms, event_id) IS NULL
       |      OR ms - lag(ms) OVER (PARTITION BY user_id
       |                            ORDER BY ms, event_id) > $gapMs
       |      THEN 1 ELSE 0 END AS brk
       |  FROM ev),
       |sb AS (
       |  SELECT user_id, ms,
       |    sum(brk) OVER (PARTITION BY user_id ORDER BY ms, event_id
       |                   ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM b),
       |sess AS (
       |  SELECT user_id, sid, max(ms) AS e, count(*) AS n
       |  FROM sb GROUP BY user_id, sid),
       |emit AS (
       |  SELECT * FROM (
       |    SELECT user_id, sid, e, n,
       |      max(sid) OVER (PARTITION BY user_id) AS max_sid
       |    FROM sess)
       |  WHERE sid < max_sid
       |     OR e + $gapMs < (SELECT max(ms) FROM ev))
       |SELECT user_id, count(*) AS n_sessions,
       |  CAST(sum(n) AS BIGINT) AS n_events
       |FROM emit GROUP BY user_id
       |ORDER BY user_id""".stripMargin
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Lag-gap sessionization: sessions and events per user.
    "q_sessionize" -> { (s, dir) =>
      withBreaks(s, dir)
        .groupBy("user_id")
        .agg(sum(col("brk")).cast("long").as("n_sessions"),
          count(lit(1)).as("n_events"))
        .orderBy("user_id")
    },

    // Session-level stats via a running session id; durations in exact µs.
    "q_session_stats" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withBreaks(s, dir)
        .withColumn("sid", sum(col("brk")).over(w))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_ev"),
          (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            .as("dur_us"))
        .agg(
          count(lit(1)).as("n_sessions"),
          (sum(col("n_ev")).cast("double") / count(lit(1)))
            .as("avg_events_per_session"),
          (sum(col("dur_us")).cast("double") / count(lit(1)))
            .as("avg_dur_us"),
          max(col("n_ev")).as("max_events"))
    },

    // Built-in session_window (shared with the streaming pipeline) must
    // agree with the lag-gap oracle on session counts per user.
    "q_session_window" -> { (s, dir) =>
      Sessionize.sessionCounts(events(s, dir), "30 minutes")
        .groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"))
        .orderBy("user_id")
    },

    // JSON property extraction + aggregation.
    "q_json_props" -> { (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(
          sum(get_json_object(col("props"), "$.k").cast("long")).as("sum_k"),
          count(lit(1)).as("n"))
        .orderBy("event_type")
    },

    // IGNORE NULLS window — last-observation-carried-forward, the
    // sensor/price-series forward-fill every feature pipeline needs:
    // non-purchase rows carry NULL, and each row reads the user's most
    // recent purchase value straight off the running frame
    // (last(..., ignoreNulls) OVER ROWS UNBOUNDED PRECEDING) — no
    // self-join, no gaps-and-islands. The (us, event_id) sort key is
    // total, so the carried sequence is deterministic; per-user count
    // + exact-decimal sum of the carried series pin every row of it.
    "q_locf_window" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
      ev2(s, dir)
        .withColumn("locf", last(
          when(col("event_type") === "purchase", col("value")),
          ignoreNulls = true).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          count(col("locf")).as("n_filled"),
          dsum(coalesce(col("locf"), lit(0.0))).as("locf_sum"))
        .orderBy("user_id")
    },

    // Time-typed RANGE window frames — the trailing-interval aggregate
    // as a FRAME (RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT
    // ROW over the raw TIMESTAMP), not a self-join: one sort per
    // partition key, each row's trailing-hour event count read off the
    // moving frame. RANGE (vs ROWS) makes tied timestamps peers — every
    // tied row sees the identical frame, so the result is deterministic
    // with NO tiebreak column at all (the property ROWS frames lack).
    // The per-type peak and sum of trailing counts pin the whole
    // per-row sequence. Identical SQL text runs on DuckDB.
    "q_interval_frame" -> { (s, dir) =>
      val view = StreamGate.uniqueName("ev_frame")
      events(s, dir).createOrReplaceTempView(view)
      try s.sql(
        s"""SELECT event_type,
           |  max(c1h) AS peak_1h,
           |  CAST(sum(c1h) AS BIGINT) AS sum_c1h,
           |  count(*) AS n
           |FROM (
           |  SELECT event_type,
           |    CAST(count(*) OVER (PARTITION BY event_type ORDER BY ts
           |      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
           |        AND CURRENT ROW) AS BIGINT) AS c1h
           |  FROM $view)
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin)
      finally s.catalog.dropTempView(view)
    },

    // Typed Dataset surface — KeyValueGroupedDataset.mapGroups with
    // tuple Encoders, the batch API for genuinely imperative per-group
    // logic: the longest run of CONSECUTIVE same-type events per user
    // (streak detection — trivial in a loop, a gaps-and-islands
    // contortion in SQL, which is exactly what the oracle runs). Each
    // group materializes ONE user's events (bounded by per-user
    // activity, never corpus-scale); ties on run length resolve to the
    // earliest run start on both sides, and the in-group sort key
    // (us, event_id) is total, so the scan order is deterministic.
    "q_typed_runs" -> { (s, dir) =>
      import s.implicits._
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"))
        .as[(Long, Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (u, it) =>
          val evs = it.toArray.sortBy(e => (e._3, e._2))
          var bestLen = 0L; var bestType = ""; var curLen = 0L
          var curType: String = null
          evs.foreach { e =>
            if (e._4 == curType) curLen += 1
            else { curType = e._4; curLen = 1 }
            if (curLen > bestLen) { bestLen = curLen; bestType = curType }
          }
          (u, bestLen, bestType, evs.length.toLong)
        }
        .toDF("user_id", "max_run", "run_type", "n_events")
        .orderBy("user_id")
    },

    // Observation API — in-flight data-quality counters riding a real
    // query for FREE: `.observe()` attaches named aggregates (row count,
    // null counter, max id) that accumulate on the SAME pass as the
    // revenue aggregation — no second scan, no cache, exactly the
    // pattern a 100 TB ETL job uses to publish row-count/null-rate
    // telemetry without paying for it. The observed values then ride
    // the output as literal columns, and the oracle RECOMPUTES them
    // from scratch — a pass proves the side-channel saw every row the
    // query saw. (Observed metrics must be commutative aggregates —
    // no distinct — which is what makes them free at any parallelism.)
    "q_observe_metrics" -> { (s, dir) =>
      val obs = new org.apache.spark.sql.Observation()
      val q = events(s, dir)
        .observe(obs,
          count(lit(1)).as("n_seen"),
          sum(when(col("props").isNull, 1).otherwise(0)).cast("long")
            .as("n_null_props"),
          max(col("user_id")).as("max_user"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_v"))
      q.collect() // fire the pass; populates obs
      val m = obs.get
      q.withColumn("obs_rows", lit(m("n_seen").asInstanceOf[Long]))
        .withColumn("obs_null_props",
          lit(m("n_null_props").asInstanceOf[Long]))
        .withColumn("obs_max_user", lit(m("max_user").asInstanceOf[Long]))
        .orderBy("event_type")
    },

    // VARIANT round trip — Spark 4's semi-structured type end-to-end:
    // each event re-serializes to JSON (to_json over a nested struct),
    // parses into a VARIANT (binary-encoded, schema-on-read), and the
    // aggregate reads typed values back out through variant_get paths
    // (top-level long, nested long, string). The oracle computes the
    // same numbers from the RAW columns with no JSON anywhere, so a
    // pass proves the entire encode→VARIANT→typed-extract loop
    // lossless. At scale VARIANT is the answer to schema-drifting
    // event props: one binary column, path access without a schema
    // migration, and the extraction is codegen'd columnar work — no
    // string re-parse per path.
    "q_variant_props" -> { (s, dir) =>
      events(s, dir)
        .withColumn("j", to_json(struct(
          col("user_id").as("u"),
          col("event_type").as("t"),
          struct(get_json_object(col("props"), "$.k").cast("long")
            .as("k")).as("n"))))
        .withColumn("v", parse_json(col("j")))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(expr("variant_get(v, '$.u', 'long')")).cast("long")
            .as("sum_u"),
          sum(expr("variant_get(v, '$.n.k', 'long')")).cast("long")
            .as("sum_k"),
          count_distinct(expr("variant_get(v, '$.t', 'string')"))
            .as("n_types"))
        .orderBy("event_type")
    },

    // Named-parameter SQL — the injection-safe parameter-binding
    // surface (spark.sql(text, args)) a reference user's dashboards
    // and schedulers call: the band predicate arrives as :lo/:hi
    // BINDINGS, not spliced literals, over a temp view. The oracle
    // runs the same text with literals inline; a pass proves binding
    // changes nothing about semantics. (Parameters bind in the
    // PARSER, so the plan — pushdown included — is identical to the
    // literal spelling.)
    "q_param_sql" -> { (s, dir) =>
      val view = StreamGate.uniqueName("ev_param")
      events(s, dir).createOrReplaceTempView(view)
      try s.sql(
        s"""SELECT event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
           |FROM $view
           |WHERE value >= :lo AND value < :hi
           |GROUP BY event_type ORDER BY event_type""".stripMargin,
        Map("lo" -> 10.0, "hi" -> 90.0))
      finally s.catalog.dropTempView(view)
    },

    // OHLC bars: per (event_type, hour) open/high/low/close of `value` —
    // the canonical time-series downsampling aggregate. Open/close come
    // from row_number over the (type, hour)-keyed window with the total
    // (us, event_id) order, so ties can never pick different rows across
    // engines; high/low are plain min/max. No arithmetic on the doubles
    // at all — every emitted value is a raw parquet value, identical
    // bits on both engines.
    "q_ohlc_bars" -> { (s, dir) =>
      val e = ev2(s, dir)
      val wAsc = Window.partitionBy("event_type", "hb")
        .orderBy(col("us"), col("event_id"))
      val wDesc = Window.partitionBy("event_type", "hb")
        .orderBy(col("us").desc, col("event_id").desc)
      e.withColumn("rno", row_number().over(wAsc))
        .withColumn("rnc", row_number().over(wDesc))
        .groupBy("event_type", "hb")
        .agg(count(lit(1)).as("n"),
          max(when(col("rno") === 1, col("value"))).as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max(when(col("rnc") === 1, col("value"))).as("close"))
        .orderBy("event_type", "hb")
    },

    // Session path mining: the top-10 three-step behavioral paths taken
    // WITHIN a session (session boundaries cut the sequence — a path
    // never spans the 30-min gap). Two lags over a (user, session)-keyed
    // window, then a count; path cardinality is |types|³-bounded so the
    // final aggregate is constant-size at any corpus scale.
    "q_path_mining" -> { (s, dir) =>
      val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val w = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
      withBreaks(s, dir)
        .withColumn("sid", sum(col("brk")).over(run))
        .withColumn("p1", lag("event_type", 2).over(w))
        .withColumn("p2", lag("event_type", 1).over(w))
        .filter(col("p1").isNotNull)
        .select(concat_ws(" > ", col("p1"), col("p2"), col("event_type"))
          .as("path"))
        .groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("path"))
        .limit(10)
    },

    // Debounce: collapse repeats of the same (user, event_type) arriving
    // within 5 s to the first occurrence — the telemetry-ingest dedup
    // run before any counting pipeline. One keyed window; kept rows'
    // values re-sum in exact decimal.
    "q_debounce" -> { (s, dir) =>
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(w))
        .withColumn("keep", col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > 5000000L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_kept"),
          dsum(when(col("keep"), col("value"))).as("sum_kept_value"))
        .orderBy("event_type")
    },

    // Funnel-integrity audit — the data-contract check behind any
    // conversion metric: a purchase should follow ≥1 view INSIDE its
    // own session; orphan purchases measure instrumentation loss. One
    // strictly-before running count per (user, session) window (frame
    // ends at 1 PRECEDING, so the first row sums an empty frame), then
    // a single-row report.
    "q_funnel_integrity" -> { (s, dir) =>
      val run = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val before = Window.partitionBy("user_id", "sid")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      withBreaks(s, dir)
        .withColumn("sid", sum(col("brk")).over(run))
        .withColumn("views_before",
          sum(when(col("event_type") === "view", 1).otherwise(0))
            .over(before))
        .filter(col("event_type") === "purchase")
        .agg(count(lit(1)).as("n_purchases"),
          sum(when(coalesce(col("views_before"), lit(0)) === 0, 1)
            .otherwise(0)).cast("long").as("n_orphan_purchases"))
        .select(col("n_purchases"), col("n_orphan_purchases"),
          round(col("n_orphan_purchases").cast("double") /
            col("n_purchases"), 6).as("orphan_ratio"))
    },

    // User-timeline serialization — the sequence-example builder of a
    // behavioral model's training pipeline: each user's events collected
    // into ONE deterministically-ordered string (array_sort on the
    // (us, event_id, type) struct → total order independent of
    // partitioning), fingerprinted with md5 so the oracle proves the
    // ORDER, not just the multiset. Per-user state is the user's own
    // history — the op's inherent requirement; the groupBy is one
    // user-keyed shuffle.
    "q_user_timeline" -> { (s, dir) =>
      ev2(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          md5(array_join(
            transform(
              array_sort(collect_list(
                struct(col("us"), col("event_id"), col("event_type")))),
              x => concat_ws(":", x.getField("us"),
                x.getField("event_id"), x.getField("event_type"))),
            "|")).as("timeline_md5"))
        .orderBy("user_id")
    },

    // A/B experiment readout: Welch's t between deterministic cohorts
    // (user parity — the hash-split every experimentation platform
    // does), per event type. Means/variances derive from exact decimal
    // moment sums (the q_zscore_outliers discipline: associative, so
    // partitioning can't perturb them) and the t formula is written in
    // ONE fixed association mirrored by the oracle — identical doubles,
    // then round 6. Map-side combined; 2×|types| groups of state.
    "q_ab_metric" -> { (s, dir) =>
      val v = col("value").cast("double")
      val g = events(s, dir)
        .withColumn("grp", (col("user_id") % 2).cast("int"))
        .groupBy("event_type", "grp")
        .agg(count(lit(1)).as("n"), dsum(v).as("s1"), dsum(v * v).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("var",
          (col("s2") - col("n") * col("mean") * col("mean")) /
            (col("n") - 1))
      val a = g.filter(col("grp") === 0)
        .select(col("event_type"), col("n").as("n_a"),
          col("mean").as("mean_a"), col("var").as("var_a"))
      val b = g.filter(col("grp") === 1)
        .select(col("event_type"), col("n").as("n_b"),
          col("mean").as("mean_b"), col("var").as("var_b"))
      a.join(b, "event_type")
        .select(col("event_type"), col("n_a"), col("n_b"),
          round(col("mean_a") - col("mean_b"), 6).as("mean_diff"),
          when(col("n_a") > 1 && col("n_b") > 1,
            round((col("mean_a") - col("mean_b")) /
              sqrt(col("var_a") / col("n_a") + col("var_b") / col("n_b")),
              6)).as("t_welch"))
        .orderBy("event_type")
    },

    // Chi-square independence of event_type × cohort — the categorical
    // companion to q_ab_metric's means test (is traffic COMPOSITION
    // different between arms, not just the metric?). Marginals widen to
    // decimal(38,0) before the cross products (o·n overflows a long at
    // corpus scale); each cell's term rounds to 9 dp then decimal-sums,
    // so the |types|×2-cell total is addition-order-proof in both
    // engines.
    "q_chi2_cohort" -> { (s, dir) =>
      val d = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val base = events(s, dir)
        .withColumn("grp", (col("user_id") % 2).cast("int"))
      val cells = base.groupBy("event_type", "grp")
        .agg(count(lit(1)).as("o"))
      val rt = cells.groupBy("event_type").agg(sum("o").as("rt"))
      val ct = cells.groupBy("grp").agg(sum("o").as("ct"))
      val n = cells.agg(sum("o").as("n"),
        count_distinct(col("event_type")).as("k"))
      cells.join(broadcast(rt), "event_type")
        .join(broadcast(ct), "grp")
        .crossJoin(broadcast(n))
        .withColumn("num",
          (d(col("o")) * col("n") - d(col("rt")) * col("ct"))
            .cast("double"))
        .withColumn("den",
          (d(col("rt")) * col("ct") * col("n")).cast("double"))
        .withColumn("term",
          round(col("num") * col("num") / col("den"), 9)
            .cast(DecimalType(28, 9)))
        .agg(max(col("n")).cast("long").as("n_events"),
          ((max(col("k")) - 1) * 1).cast("long").as("dof"),
          sum(col("term")).cast("double").as("chi2"))
    },

    // Join-key skew report — the diagnostic run before keying any 100 TB
    // shuffle on user_id: per-key counts, the heaviest keys, and each
    // one's skew ratio (n·n_keys/tot; 1.0 = perfectly uniform). The
    // number that decides whether a downstream join needs salting (see
    // q_salted_join). One groupBy + one scalar broadcast; the ratio
    // rounds from identical integer operands in both engines.
    "q_skew_report" -> { (s, dir) =>
      val perKey = events(s, dir).groupBy("user_id")
        .agg(count(lit(1)).as("n"))
      val tot = perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("n")).cast("long").as("tot"))
      perKey.crossJoin(broadcast(tot))
        .select(col("user_id"), col("n"), col("n_keys"), col("tot"),
          round((col("n") * col("n_keys")).cast("double") / col("tot"), 6)
            .as("skew_ratio"))
        .orderBy(desc("n"), col("user_id"))
        .limit(5)
    },

    // Audience overlap: exact pairwise user-set intersection + Jaccard
    // across event types. The distinct (type, user) set shuffles once on
    // user_id; the pair join is equi-keyed on the user, so pair volume
    // is Σ_user (types_of_user choose 2) — bounded by |types|² per user,
    // never corpus². Type sizes broadcast (|types| rows).
    "q_audience_overlap" -> { (s, dir) =>
      val ua = events(s, dir).select("event_type", "user_id").distinct()
      val sizes = ua.groupBy("event_type")
        .agg(count(lit(1)).as("n_users"))
      val both = ua.select(col("event_type").as("ta"), col("user_id"))
        .join(ua.select(col("event_type").as("tb"), col("user_id")),
          "user_id")
        .filter(col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_both"))
      both
        .join(broadcast(sizes.select(col("event_type").as("ta"),
          col("n_users").as("na"))), "ta")
        .join(broadcast(sizes.select(col("event_type").as("tb"),
          col("n_users").as("nb"))), "tb")
        .select(col("ta"), col("tb"), col("na"), col("nb"), col("n_both"),
          round(col("n_both").cast("double") /
            (col("na") + col("nb") - col("n_both")), 6).as("jaccard"))
        .orderBy("ta", "tb")
    },

    // Event-time daily windows: activity per day.
    "q_daily_active" -> { (s, dir) =>
      events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count_distinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value"))
        .orderBy("day")
    },

    // As-of join (graft.ops.AsOfJoin): each purchase attached to the most
    // recent view by the same user at or before the purchase instant; ties
    // on the view timestamp break toward the largest view event_id. One
    // shuffle + sort — no range-join pair explosion.
    "q_asof_join" -> { (s, dir) =>
      val ev = events(s, dir)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      graft.ops.AsOfJoin.asOf(buys, views, "user_id", "ts", "view_id", "v_")
        .select(col("event_id").as("buy_event_id"), col("user_id"),
          unix_micros(col("ts")).as("buy_us"),
          col("v_view_id").as("view_event_id"),
          unix_micros(col("v_ts")).as("view_us"))
        .orderBy("buy_event_id")
    },

    // Strict-order 3-step funnel (first-touch): per user, the earliest
    // view (t1), the earliest click at-or-after t1 (t2), the earliest
    // purchase at-or-after t2 (t3) — then the step counts and the
    // 1-hour completion count. Each step is ONE user-keyed aggregate
    // joined to the previous step's frame (monotone shrinking), so the
    // funnel is three equi-join + groupBy rounds with zero pair
    // fan-out — the plan that survives a billion-event day. The final
    // four counts are scalar aggregates combined by broadcast.
    "q_funnel_steps" -> { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      val t1 = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("us")).as("t1"))
      val t2 = e.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("us") >= col("t1"))
        .groupBy("user_id", "t1").agg(min(col("us")).as("t2"))
      val t3 = e.filter(col("event_type") === "purchase")
        .join(t2, "user_id").filter(col("us") >= col("t2"))
        .groupBy("user_id", "t1", "t2").agg(min(col("us")).as("t3"))
      val c1 = t1.agg(count(lit(1)).as("n_viewed"))
      val c2 = t2.agg(count(lit(1)).as("n_clicked_after"))
      val c3 = t3.agg(count(lit(1)).as("n_purchased_after"),
        // coalesce: an empty step-3 frame must emit 0, not NULL (the
        // oracle's COALESCE) — EdgeCaseSmokeSpec runs gates on slices
        // where a whole event type can be absent
        coalesce(sum(when(col("t3") - col("t1") <= 3600L * 1000000L, 1)
          .otherwise(0)), lit(0)).cast("long").as("n_completed_1h"))
      c1.crossJoin(c2).crossJoin(c3) // scalar aggregates — sanctioned
    },

    // Error impact on conversion — the reliability-meets-revenue
    // diagnostic: sessionize (the q_sessionize 30-min gap), flag each
    // session for error presence and purchase presence, and compare
    // conversion across the two populations. Two user-partitioned
    // windows + one (user, sid) rollup; the 2×2 result is exact
    // integers with one rounded rate per row.
    "q_error_impact" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withBreaks(s, dir)
        .withColumn("sid", sum(col("brk")).over(w))
        .groupBy("user_id", "sid")
        .agg(max(when(col("event_type") === "error", 1).otherwise(0))
          .as("has_error"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("has_purchase"))
        .groupBy(col("has_error").cast("long").as("has_error"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("has_purchase")).cast("long")
            .as("n_purchase_sessions"))
        .select(col("has_error"), col("n_sessions"),
          col("n_purchase_sessions"),
          round(col("n_purchase_sessions").cast(DoubleType) /
            col("n_sessions").cast(DoubleType), 6).as("conv_rate"))
        .orderBy("has_error")
    },

    // Session-depth histogram — events-per-session distribution, the
    // engagement shape q_session_stats' averages hide (a mean of 4 can
    // be "all 4s" or "mostly 1s plus whales"): sessionize (the
    // q_sessionize 30-min gap), count per session, histogram. Group
    // count capped by max session length.
    "q_session_depth" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      withBreaks(s, dir)
        .withColumn("sid", sum(col("brk")).over(w))
        .groupBy("user_id", "sid")
        .agg(count(lit(1)).as("depth"))
        .groupBy("depth")
        .agg(count(lit(1)).as("n_sessions"))
        .orderBy("depth")
    },

    // Repeat-purchase recurrence — the retention metric behind
    // replenishment campaigns: per user, the gaps between CONSECUTIVE
    // purchases (one user-partitioned lag window), then the corpus-wide
    // gap distribution (exact interpolated quantiles, the
    // q_percentiles-proven parity) plus the share of gaps under 24 h.
    // Users with a single purchase contribute no gap on both engines
    // alike.
    "q_repeat_purchase" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      events(s, dir)
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .withColumn("prev_us", lag("us", 1).over(w))
        .filter(col("prev_us").isNotNull)
        .select((col("us") - col("prev_us")).as("gap_us"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(when(col("gap_us") <= 86400L * 1000000L, 1).otherwise(0))
            .cast("long").as("n_within_24h"),
          round(expr("percentile(gap_us, 0.5)"), 4).as("p50_gap_us"),
          round(expr("percentile(gap_us, 0.9)"), 4).as("p90_gap_us"))
    },

    // Peak session concurrency — the interval-stabbing sweep every
    // capacity planner runs: sessions (the q_sessionize 30-min gap)
    // become ±1 boundary events (end+1µs releases BEFORE a same-instant
    // start claims: ORDER BY (us, delta) puts -1 first), the running
    // occupancy is PrefixSum's two-phase distributed scan — never a
    // single-partition `SUM OVER (ORDER BY …)` — and the result is the
    // max concurrent sessions plus the first instant it is reached.
    // Determinism under boundary ties: rows sharing (us, delta) carry
    // identical deltas, so the multiset of running values in a tie
    // block is order-free, and the block's max and its us are pinned.
    "q_peak_concurrency" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // pinned (r13 verdict #6): `bounds` feeds the prefix op, whose
      // range sampler executes its child TWICE, and `nSess` is a third
      // consumer — unpinned, the full sessionize window ran ~3× per gate
      val sess = graft.ops.Pin.pin(withBreaks(s, dir)
        .withColumn("sid", sum(col("brk")).over(w))
        .groupBy("user_id", "sid")
        .agg(min(unix_micros(col("ts"))).as("t0"),
          max(unix_micros(col("ts"))).as("t1")))
      val bounds = sess.select(col("t0").as("us"), lit(1).as("delta"))
        .unionByName(
          sess.select((col("t1") + 1).as("us"), lit(-1).as("delta")))
      val conc = graft.ops.PrefixSum
        .withExclusivePrefix(bounds, Seq("us", "delta"), "delta")
        .withColumn("occ", col("prefix").cast("long") + col("delta"))
      val nSess = sess.agg(count(lit(1)).as("n_sessions"))
      val peak = conc.agg(max(col("occ")).as("max_concurrent"))
      conc.crossJoin(broadcast(peak)) // scalar aggregate — sanctioned
        .filter(col("occ") === col("max_concurrent"))
        .agg(min(col("us")).as("first_peak_us"))
        .crossJoin(broadcast(nSess))
        .crossJoin(broadcast(peak))
        .select(col("n_sessions"), col("max_concurrent"),
          col("first_peak_us"))
    },

    // Time-to-convert distribution — the latency profile of the
    // view→purchase funnel: each purchase attributed to its latest
    // preceding view (the same AsOfJoin union-merge as q_asof_join, ONE
    // user-keyed window instead of a pair join), then the exact
    // interpolated quantiles of the gap. The corpus collapses to one
    // row; percentile() and quantile_cont() interpolate identically
    // (parity proven by q_percentiles), and the mean is an exact
    // integer-sum division. Unattributed purchases (no prior view) are
    // excluded on both engines alike.
    "q_time_to_convert" -> { (s, dir) =>
      val ev = events(s, dir)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"), col("ts"))
      graft.ops.AsOfJoin.asOf(buys, views, "user_id", "ts", "view_id", "v_")
        .filter(col("v_ts").isNotNull)
        .select((unix_micros(col("ts")) - unix_micros(col("v_ts")))
          .as("gap_us"))
        .agg(count(lit(1)).as("n_conversions"),
          round(sum(col("gap_us")).cast(DoubleType) /
            count(lit(1)).cast(DoubleType), 4).as("mean_gap_us"),
          round(expr("percentile(gap_us, 0.25)"), 4).as("p25"),
          round(expr("percentile(gap_us, 0.5)"), 4).as("p50"),
          round(expr("percentile(gap_us, 0.9)"), 4).as("p90"),
          round(expr("percentile(gap_us, 0.99)"), 4).as("p99"))
    },

    // Structured Streaming end-to-end inside the correctness gate:
    // readStream over the events parquet → event-time hourly windowed
    // aggregation → complete-mode memory sink, drained with AvailableNow.
    // Complete mode emits every window, so the result is deterministic and
    // equals the batch group-by the oracle runs.
    "q_stream_hourly" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val counts = stream
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      StreamGate.memory(s, dir, "q_stream_hourly", counts,
        OutputMode.Complete())
        .select(unix_micros(col("w.start")).as("hour_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("hour_us", "event_type")
    },

    // Per-type z-score outlier counts. Mean/variance derive from exact
    // decimal sums (associative → identical doubles in both engines), so
    // the z > 2 boundary can never flip between Spark and the oracle.
    "q_zscore_outliers" -> { (s, dir) =>
      val v = col("value").cast("double")
      val stats = events(s, dir)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          dsum(v).as("s1"),
          dsum(v * v, 4).as("s2"))
        .withColumn("mean", col("s1") / col("n"))
        .withColumn("sd", sqrt((col("s2") -
          col("n") * col("mean") * col("mean")) / (col("n") - 1)))
        .select("event_type", "mean", "sd")
      events(s, dir).join(broadcast(stats), "event_type")
        .withColumn("z", (v - col("mean")) / col("sd"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(when(abs(col("z")) > 2.0, 1).otherwise(0)).cast("long")
            .as("n_outliers"),
          round(max(abs(col("z"))), 6).as("max_abs_z"))
        .orderBy("event_type")
    },

    // Markov transition matrix over per-user event sequences: lag window
    // keyed on user (one shuffle), pair counts bounded by |event_types|²,
    // global probability via a scalar-aggregate broadcast. The standard
    // behavioral-analytics / session-model statistic.
    "q_event_transitions" -> { (s, dir) =>
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .withColumn("prev", lag("event_type", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("prev"), col("event_type").as("curr"))
      val cnt = pairs.groupBy("prev", "curr")
        .agg(count(lit(1)).as("n_trans"))
      val tot = pairs.agg(count(lit(1)).as("tot"))
      cnt.crossJoin(broadcast(tot))
        .select(col("prev"), col("curr"), col("n_trans"),
          round(col("n_trans").cast("double") / col("tot"), 6).as("prob"))
        .orderBy("prev", "curr")
    },

    // Markov next-event BACKTEST — the evaluation loop run before
    // shipping any sequence model: train a first-order transition model
    // on the time-PREFIX of the stream (integer-div 70/30 cutoff; a
    // pair whose TARGET falls past the cutoff belongs to evaluation, so
    // nothing leaks), predict each held-out transition as the argmax
    // next-type, and score top-1 accuracy per previous type. The argmax
    // is min(struct(−count, type)) — count DESC, type ASC — so the
    // model is deterministic under ties in BOTH engines (max_by/min_by
    // tie order is engine-defined; a struct ordering is not). The model
    // is |types|² rows → broadcast; the lag stream is pinned once for
    // its two consumers.
    "q_markov_backtest" -> { (s, dir) =>
      val e = events(s, dir).select(col("user_id"), col("event_id"),
        col("event_type"), unix_micros(col("ts")).as("us"))
      val cut = e.agg(min("us").as("mn"), max("us").as("mx"))
        .select(expr("mn + ((mx - mn) * 7) div 10").as("cutoff_us"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("us"), col("event_id"))
      val pairs = graft.ops.Pin.pin(
        e.withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNotNull)
          .crossJoin(broadcast(cut)))
      val model = pairs.filter(col("us") < col("cutoff_us"))
        .groupBy("prev", "event_type")
        .agg(count(lit(1)).as("n"))
        .groupBy("prev")
        .agg(min(struct((-col("n")).as("negn"),
          col("event_type").as("pred"))).as("m"))
        .select(col("prev"), col("m.pred").as("pred"))
      pairs.filter(col("us") >= col("cutoff_us"))
        .join(broadcast(model), Seq("prev"), "left")
        .groupBy("prev")
        .agg(count(lit(1)).as("n_eval"),
          sum(when(col("pred") === col("event_type"), 1).otherwise(0))
            .cast("long").as("n_hit"))
        .withColumn("accuracy",
          round(col("n_hit").cast("double") / col("n_eval"), 6))
        .orderBy("prev")
    },

    // Daily retention cohorts: users grouped by first-seen day, distinct
    // actives per (cohort, day-offset ≤ 7). The first-seen dimension is
    // broadcast here (users ≪ events); when the user dimension outgrows
    // the broadcast threshold the same plan falls back to a shuffled
    // equi-join on user_id — nothing else changes.
    "q_retention_cohorts" -> { (s, dir) =>
      val ev = events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val first = ev.groupBy("user_id").agg(min("d").as("cohort"))
      ev.join(broadcast(first), "user_id")
        .withColumn("day_offset", datediff(col("d"), col("cohort")))
        .filter(col("day_offset") <= 7)
        .groupBy("cohort", "day_offset")
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("cohort", "day_offset")
    },

    // Robust twin of q_zscore_outliers: median/MAD outlier detection —
    // the estimator that still works when the anomaly itself inflates
    // the stddev (z-scores go blind exactly when the tail is heaviest).
    // Threshold |x − med| > 4.4478·MAD ≈ 3σ-equivalent (3 × 1.4826, the
    // normal-consistency constant, folded into one literal so both
    // engines evaluate the identical product). Three keyed aggregations
    // + two broadcast joins of (#event-types)-row stats tables — the
    // exact-median two-pass plan that holds at any corpus size where
    // per-group sort-based percentile holds (at 100 TB the same gate
    // swaps percentile for approx_percentile; the join shape is
    // unchanged).
    "q_mad_outliers" -> { (s, dir) =>
      val v = col("value").cast("double")
      val med = events(s, dir).groupBy("event_type")
        .agg(expr("percentile(cast(value as double), 0.5)").as("med"))
      val dev = events(s, dir).join(broadcast(med), "event_type")
        .withColumn("adev", abs(v - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          round(max(col("med")), 6).as("med"),
          round(max(col("mad")), 6).as("mad"),
          sum(when(col("adev") > lit(4.4478) * col("mad"), 1).otherwise(0))
            .cast("long").as("n_outliers"))
        .orderBy("event_type")
    },

    // Banded range join (graft.ops.RangeJoin): views in the 10 minutes
    // before each purchase — the interval-join shape that would explode
    // per-key without time banding.
    "q_range_join" -> { (s, dir) =>
      val ev = events(s, dir)
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("buy_id"), col("user_id").as("bu"),
          unix_micros(col("ts")).as("t_buy"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("vu"),
          unix_micros(col("ts")).as("t_view"))
      graft.ops.RangeJoin.banded(buys, views, "bu", "vu", "t_buy", "t_view",
          loUs = -600000000L, hiUs = -1L)
        .agg(count(lit(1)).as("n_pairs"),
          count_distinct(col("buy_id")).as("n_buys"),
          count_distinct(col("bu")).as("n_users"))
    },

    // Streaming stateful dedup: dropDuplicates over an unbounded stream
    // (state = one entry per distinct key), drained with AvailableNow into
    // an append-mode sink; the batch aggregate of the sink equals the
    // batch count-distinct the oracle runs regardless of arrival order.
    "q_stream_dedup" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      StreamGate.memory(s, dir, "q_stream_dedup", stream,
        OutputMode.Append())
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("event_type")
    },

    // Streaming SESSION windows: the native session_window operator in
    // append mode with a zero-lateness watermark — sessions emit exactly
    // when the watermark passes their end, so the final emitted set is
    // every session whose (last event + gap) precedes the stream's max
    // event time; the last open session per user stays in state and is
    // NOT emitted. The oracle reproduces this emission rule relationally
    // (lag-gap sessionization + the watermark cutoff), making the
    // append-mode semantics themselves the checked contract — the
    // complement of q_session_window's batch check, one shared
    // Sessionize definition for both modes.
    "q_stream_session" -> { (s, dir) =>
      // Memory shape (the r14 sf10 lesson, same class as
      // q_stream_dedup_wm): the native session_window operator's state
      // holds every in-flight session of the batch — CORPUS-sized, not
      // user-bounded — and the emission is the full closed-session set.
      // State goes to RocksDB (the sanctioned result-transparent
      // provider swap) and the emission to a parquet file sink read
      // back for the per-user aggregate (the q_stream_etl round-trip
      // shape). Emitted rows, and therefore the oracle, are unchanged.
      val stream = eventsStream(s, dir)
      val sessions = graft.streaming.Sessionize.sessionStream(
        stream, "30 minutes", "0 seconds")
      StreamGate.parquet(s, dir, "q_stream_session", sessions,
          StreamGate.Store.RocksDb) { (out, _) =>
        perUserSessions(s.read.parquet(out))
      }
    },

    // Streaming SLIDING event-time windows (2h width, 1h slide — each
    // event lands in exactly two windows), complete mode.
    "q_stream_sliding" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val counts = stream
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      StreamGate.memory(s, dir, "q_stream_sliding", counts,
        OutputMode.Complete())
        .select(unix_micros(col("w.start")).as("win_us"), col("n"),
          col("sum_value"))
        .orderBy("win_us")
    },

    // Funnel: users with a purchase within 1h after a view.
    // Rolling event-time window stats: per event type, the 3-hour
    // trailing count and exact-decimal value sum over the hourly series
    // (ROWS BETWEEN 2 PRECEDING AND CURRENT ROW — the bounded-frame
    // window shape, distinct from the running-total and rank frames
    // elsewhere in the registry). Two-level: corpus → hourly aggregate
    // (shuffle bounded by hours × types) → frame window on the tiny
    // aggregate — the rolling pass never touches corpus-sized data, so
    // at 100 TB the frame cost is fixed by the calendar, not the events.
    "q_rolling_hourly" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
      val w = Window.partitionBy("event_type").orderBy("h")
        .rowsBetween(-2, Window.currentRow)
      hourly
        .select(col("event_type"), unix_micros(col("h")).as("hour_us"),
          col("n"),
          sum(col("n")).over(w).as("roll_n"),
          sum(col("v").cast(DecimalType(18, 4))).over(w)
            .cast(DoubleType).as("roll_sum"))
        .orderBy("event_type", "hour_us")
    },

    // Event-time GAP FILL: densify each user's hourly series over their
    // own [first, last] hour span (sequence + explode — no calendar
    // dimension table) and carry the last observed hourly sum forward
    // into the missing hours (window `last(…, ignoreNulls)` — one shuffle
    // on user_id, no self-join). The alignment step every time-series
    // feature pipeline needs before joining signals onto a training
    // grid. Output is per-user audit totals: grid size, observed hours,
    // and the exact-decimal sum of the forward-filled series (each
    // carried value has ≤4 decimals by construction, so the decimal sum
    // is associative and engine-identical). Scale: grid rows are bounded
    // by |users| × span-hours — linear in the densified series, with the
    // span itself data-bounded, never a cross join against a global
    // calendar.
    "q_gap_fill" -> { (s, dir) =>
      val hourly = events(s, dir)
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"))
        .agg(dsum(col("value")).as("v"))
      val grid = hourly.groupBy("user_id")
        .agg(min("h").as("h0"), max("h").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("h"))
      val w = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "h"), "left")
        .withColumn("fv", last(col("v"), ignoreNulls = true).over(w))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_hours"),
          sum(when(col("v").isNotNull, 1L).otherwise(0L)).as("n_observed"),
          sum(col("fv").cast(DecimalType(18, 4))).cast(DoubleType)
            .as("filled_sum"))
        .orderBy("user_id")
    },

    // Hour-of-day seasonal profile + residual variance — the additive
    // decomposition every traffic dashboard runs: gap-fill the hourly
    // count series over the observed span (slot grid bounded by TIME
    // SPAN, not data volume — one sequence explode from a scalar
    // bounds row), key each slot by epoch-hour mod 24 (calendar-free;
    // no month/DST aliasing), then per hour-of-day the seasonal mean
    // and the residual variance around it. Every sum is an exact
    // integer (counts and squared counts); the two divisions per
    // 24-row output happen once, identically spelled in both engines.
    "q_seasonal_profile" -> { (s, dir) =>
      val counts = ev2(s, dir)
        .groupBy(col("hb").as("hr"))
        .agg(count(lit(1)).as("c"))
      val bounds = counts.agg(min(col("hr")).as("mn"),
        max(col("hr")).as("mx"))
      val slots = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
      slots.join(counts, Seq("hr"), "left")
        .select(expr("hr % 24").as("hod"),
          coalesce(col("c"), lit(0L)).as("c"))
        .groupBy("hod")
        .agg(count(lit(1)).as("n_slots"),
          sum(col("c")).cast("long").as("total_events"),
          sum(col("c") * col("c")).cast("long").as("ss"))
        .select(col("hod"), col("n_slots"), col("total_events"),
          round(col("total_events") / (lit(1.0) * col("n_slots")), 6)
            .as("seasonal_mean"),
          round((col("ss") - lit(1.0) * col("total_events") *
            col("total_events") / col("n_slots")) / col("n_slots"), 6)
            .as("resid_var"))
        .orderBy("hod")
    },

    // Transition entropy per source event type — how predictable is the
    // NEXT action after each event type? One user-partitioned window
    // builds consecutive (src, dst) transitions (single shuffle on
    // user_id), the transition matrix is domain-bounded (|types|^2),
    // and H(src) = ln(N) - (1/N) sum n_ij ln n_ij. The n ln n terms are
    // rounded to 9 dp and summed through scaled longs (exact,
    // order-free); ln and the one division run once per bounded output
    // row, identically in both engines.
    "q_transition_entropy" -> { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val tr = ev2(s, dir)
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .filter(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("nij"))
      tr.groupBy("src")
        .agg(sum(col("nij")).cast("long").as("n_total"),
          count(lit(1)).as("n_dst"),
          dsumPre(round(col("nij").cast("double") *
            log(col("nij").cast("double")), 9), 9).as("nlogn"))
        .select(col("src"), col("n_total"), col("n_dst"),
          round(log(col("n_total").cast("double")) -
            col("nlogn") / col("n_total"), 6).as("entropy_nats"))
        .orderBy("src")
    },

    // Hour-of-day anomaly sweep — q_seasonal_profile's decomposition
    // turned into a detector with an EXACT integer decision rule: slot
    // hr is anomalous iff (m*c - T)^2 > 9*(m*SS - T^2) — the 3-sigma
    // cut cross-multiplied by m^2 so no division, sqrt, or float ever
    // touches the boundary (a borderline slot classifies identically
    // in both engines by construction). Frame sizes: slot grid bounded
    // by time span, per-hod aggregate 24 rows broadcast back.
    "q_hourly_anomaly" -> { (s, dir) =>
      val counts = ev2(s, dir)
        .groupBy(col("hb").as("hr"))
        .agg(count(lit(1)).as("c"))
      val bounds = counts.agg(min(col("hr")).as("mn"),
        max(col("hr")).as("mx"))
      val slots = bounds
        .select(explode(sequence(col("mn"), col("mx"))).as("hr"))
      val filled = slots.join(counts, Seq("hr"), "left")
        .select(col("hr"), expr("hr % 24").as("hod"),
          coalesce(col("c"), lit(0L)).as("c"))
      val byHod = filled.groupBy("hod")
        .agg(count(lit(1)).as("m"),
          sum(col("c")).cast("long").as("tt"),
          sum(col("c") * col("c")).cast("long").as("ss"))
      filled.join(broadcast(byHod), Seq("hod"))
        .filter(expr("""(m * c - tt) * (m * c - tt) >
          9 * (m * ss - tt * tt)"""))
        .select(col("hr"), col("hod"), col("c"),
          round(col("tt") / (lit(1.0) * col("m")), 6).as("expected"))
        .orderBy("hr")
    },

    "q_funnel_1h" -> { (s, dir) =>
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("u"), unix_micros(col("ts")).as("t_view"))
      val buys = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), unix_micros(col("ts")).as("t_buy"))
      views.join(buys,
          col("u") === col("u2") &&
            col("t_buy") > col("t_view") &&
            col("t_buy") - col("t_view") <= 3600L * 1000000L)
        .agg(count_distinct(col("u")).as("n_users"),
          count(lit(1)).as("n_view_buy_pairs"))
    },

    // Z-order layout values: Morton-interleave (value-bucket, hour) and
    // aggregate per 16-wide z-range — the multi-dimensional locality key
    // that makes parquet min/max stats prune on EITHER dimension after a
    // z-sorted write (see graft.ops.SpatialLayout).
    "q_zorder_stats" -> { (s, dir) =>
      val x = pmod(floor(col("value")).cast("int"), lit(16))
      val y = pmod(hour(col("ts")), lit(16))
      events(s, dir)
        .withColumn("z", graft.ops.SpatialLayout.zValue2(x, y, 4))
        .groupBy((col("z") / 16).cast("long").as("z_range"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .orderBy("z_range")
    },

    // The bounded-heap top-k aggregate on a STREAM: per event type, the
    // 3 highest-value events, maintained as streaming aggregation state
    // (a k-element heap per group — state size k, not stream length),
    // complete mode. Same collect_top_k that serves batch and SQL.
    "q_stream_topk" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val agg = stream.groupBy("event_type")
        .agg(graft.functions.TopK.collectTopK(
          struct(col("value"), col("event_id")), 3).as("tk"))
      val sink = StreamGate.memory(s, dir, "q_stream_topk", agg,
        OutputMode.Complete())
      graft.functions.TopK.unpackRanked(sink, Seq("event_type"),
          "tk", "value", "event_id")
        .orderBy("event_type", "rnk")
    },

    // Durable-sink streaming ETL: readStream → project/filter →
    // stream to PARQUET FILES with a checkpoint (the production
    // shape — exactly-once via checkpointed file-sink log), drained with
    // AvailableNow; the files are then read back and aggregated, so the
    // oracle checks the full write–read round trip.
    "q_stream_etl" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"))
      StreamGate.parquet(s, dir, "q_stream_etl", stream) { (out, _) =>
        s.read.parquet(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            count_distinct(col("user_id")).as("n_users"),
            dsum(col("value")).as("sum_value"))
          .orderBy("event_type")
      }
    },

    // Sketch family: HyperLogLog++ distinct users per event type next to
    // the exact count — at 100 TB the exact distinct is a full shuffle
    // of every user id while the sketch is a few KB per group merged
    // map-side. HASH-CHECKABLE gate: the estimate itself is
    // engine-specific, so the query emits the exact count (plain SQL)
    // plus `hll_ok` = relative error ≤ 5% per group (2.5× the configured
    // rsd; measured ≤0.4% across sfs) — constant TRUE while the sketch
    // honors its contract, red in the hash compare if it ever drifts.
    "q_hll_users" -> { (s, dir) =>
      events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), rsd = 0.02)
            .as("approx_users"),
          count_distinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) * 100 <=
            col("exact_users") * 5).as("hll_ok"))
        .orderBy("event_type")
    },

    // The HLL sketch on a STREAM: distinct users per (6h window, type)
    // as a streaming aggregation in complete mode — the state per group
    // is the SKETCH (a few KB), not the user-id set, which is what
    // makes unbounded-cardinality distinct counting streamable at all.
    // Same hash-checkable contract as q_hll_users: exact count (batch
    // side) + hll_ok = estimate within 5% — constant TRUE while the
    // sketch honors its bound, red in the driver compare if it drifts.
    "q_stream_hll" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val agg = stream
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"))
      val est = StreamGate.memory(s, dir, "q_stream_hll", agg,
        OutputMode.Complete())
        .select(unix_micros(col("w.start")).as("win_us"),
          col("event_type"),
          round(hll_sketch_estimate(col("sk")), 0).cast("long")
            .as("approx_users"))
      val exact = events(s, dir)
        .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
        .agg(count_distinct(col("user_id")).as("exact_users"))
        .select(unix_micros(col("w.start")).as("wu2"),
          col("event_type").as("et2"), col("exact_users"))
      est.join(exact,
          col("win_us") === col("wu2") && col("event_type") === col("et2"))
        .select(col("win_us"), col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")) * 100 <=
            col("exact_users") * 5).as("hll_ok"))
        .orderBy("win_us", "event_type")
    },

    // Sketch ALGEBRA: pairwise audience intersection between event
    // types by inclusion-exclusion over mergeable HLL sketches —
    // est(A∩B) = est(A) + est(B) − est(A∪B) — the way overlap is
    // computed at 100 TB, where per-type sketches are a few KB merged
    // map-side and unioned pairwise AFTER aggregation, vs an exact
    // user-keyed self-join of every id. Gate shape as q_hll_users:
    // exact intersection/union (plain SQL) + `hll_ok` = the sketch
    // estimate lands within 5% of the exact union (the right yardstick
    // for a DIFFERENCE of estimates; measured ≤1%). The pair grid is
    // generated by a double explode of ONE collected-list row (≤|types|
    // sketches) — no cartesian join anywhere; the estimate rounds to a
    // long so the contract compares integers, never raw doubles.
    "q_hll_overlap" -> { (s, dir) =>
      val du = events(s, dir).select("event_type", "user_id").distinct()
      val sk = du.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count(lit(1)).as("n_exact"))
      val one = sk.agg(collect_list(struct(col("event_type"), col("sk"),
        col("n_exact"))).as("l"))
      val pairs = one
        .select(explode(col("l")).as("a"), col("l"))
        .select(col("a"), explode(col("l")).as("b"))
        .filter(col("a.event_type") < col("b.event_type"))
        .select(col("a.event_type").as("type_a"),
          col("b.event_type").as("type_b"),
          col("a.n_exact").as("n_a"), col("b.n_exact").as("n_b"),
          round(hll_sketch_estimate(col("a.sk")) +
            hll_sketch_estimate(col("b.sk")) -
            hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk"))), 0)
            .cast("long").as("est_inter"))
      val exact = du.as("x").join(du.as("y"),
          col("x.user_id") === col("y.user_id") &&
            col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("type_a"),
          col("y.event_type").as("type_b"))
        .agg(count(lit(1)).as("exact_inter"))
      pairs.join(exact, Seq("type_a", "type_b"), "left")
        .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
        .withColumn("exact_union",
          col("n_a") + col("n_b") - col("exact_inter"))
        .select(col("type_a"), col("type_b"), col("exact_inter"),
          col("exact_union"),
          (abs(col("est_inter") - col("exact_inter")) * 20 <=
            col("exact_union")).as("hll_ok"))
        .orderBy("type_a", "type_b")
    },

    // The grouped Count-Min sketch UDAF on a STREAM: per event type, a
    // frequency sketch over user ids accumulates through the streaming
    // state machinery (map-side partial merges across micro-batches —
    // exactly the mergeability CountMin.merge guarantees), and with
    // AvailableNow the final state equals the batch sketch. The gate
    // checks each type's exact modal user (plain SQL — the oracle side)
    // against the streamed sketch: never an undercount, overcount
    // ≤ 2·N/Width, integer-exact on both sides of the bound. At 100 TB
    // per-group streaming state is one 32 KB grid per event type —
    // constant, watermark-free.
    "q_stream_cms" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir)
      val agg = stream.groupBy("event_type")
        .agg(graft.functions.CountMin.sketch(col("user_id")).as("sk"))
      val sketches = StreamGate.memory(s, dir, "q_stream_cms", agg,
        OutputMode.Complete())
        .as[(String, Array[Long])].collect().toMap
      val w = Window.partitionBy("event_type")
        .orderBy(col("cnt").desc, col("user_id"))
      val top = events(s, dir)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("event_type", "user_id", "cnt")
        .as[(String, Long, Long)].collect()
      top.toSeq.map { case (et, uid, cnt) =>
        val sk = sketches(et)
        val est = graft.functions.CountMin.estimate(sk, uid.toString)
        val ok = est >= cnt &&
          (est - cnt) * graft.functions.CountMin.Width <=
            2L * graft.functions.CountMin.total(sk)
        (et, uid, cnt, ok)
      }.toDF("event_type", "user_id", "cnt", "cms_ok")
        .orderBy("event_type")
    },

    // The reference's own statistic on a STREAM: grouped mutual
    // information (the custom typed Aggregator from graft.functions)
    // running as a streaming aggregation in complete mode — per event
    // type, MI between the discretized value and the hour-of-day. The
    // same UDAF serves batch and streaming unchanged; with AvailableNow
    // the final state equals the batch group-by the oracle computes.
    "q_stream_mi" -> { (s, dir) =>
      val stream = eventsStream(s, dir)
      val agg = stream.groupBy("event_type")
        .agg(round(graft.functions.MIAggregate.mi(
          floor(col("value")), hour(col("ts"))), 6).as("mi"))
      StreamGate.memory(s, dir, "q_stream_mi", agg,
        OutputMode.Complete()).orderBy("event_type")
    },

    // STREAM-STREAM inner join with watermarks on both sides and an
    // event-time range condition — the canonical streaming-join shape
    // (view → purchase attribution within 1h). State on each side is
    // bounded by the watermark + range, so this runs indefinitely at any
    // rate; the per-pair rows land in the sink and are aggregated per
    // user batch-side (same pattern as q_stream_dedup). The oracle is the
    // identical join in plain SQL: with AvailableNow every pair matches
    // inside the run, so streaming and batch semantics coincide exactly.
    "q_stream_join" -> { (s, dir) =>
      def stream = eventsStream(s, dir)
      // Watermark bounds join STATE (production shape: ~2 hours — the 1h
      // join range + slack). For THIS harness the oracle equivalence
      // requires that no state drops between micro-batches: AvailableNow
      // usually drains the source in one batch, but if it ever splits
      // (more files at larger scale, maxFilesPerTrigger), a 2h watermark
      // advancing between batches would silently drop cross-batch
      // view/purchase pairs and diverge from the batch-SQL oracle. An
      // effectively-infinite watermark keeps inner-join EMISSION semantics
      // identical (append-mode inner joins emit matches immediately;
      // watermark only expires state) while making the drain
      // batch-count-proof.
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id").as("u"), col("ts").as("ts_v"))
        .withWatermark("ts_v", "3650 days")
      val buys = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u_b"), col("ts").as("ts_b"),
          col("value").as("buy_value"))
        .withWatermark("ts_b", "3650 days")
      val joined = views.join(buys,
        col("u") === col("u_b") &&
          col("ts_b") > col("ts_v") &&
          col("ts_b") <= col("ts_v") + expr("INTERVAL 1 HOUR"))
      StreamGate.memory(s, dir, "q_stream_join", joined,
        OutputMode.Append())
        .groupBy(col("u").as("user_id"))
        .agg(count(lit(1)).as("n_pairs"), dsum(col("buy_value")).as("buy_sum"))
        .orderBy("user_id")
    },

    // STREAM-STREAM LEFT OUTER join — the watermark-EXPIRY semantics
    // q_stream_join can't exercise: an unmatched left row (view with no
    // purchase inside its 1h window) emits with nulls ONLY once the
    // global watermark proves no match can still arrive, i.e. when
    // watermark > ts_v + 1h. With a FINITE 7-day watermark and
    // AvailableNow, the post-drain no-data batch advances the watermark
    // to min(max ts per side) − 7d and flushes exactly the expired
    // views (verified: flush count matches the closed-form prediction
    // row-for-row at sf0.001); views younger than that stay in state —
    // the price of unbounded-stream correctness. Both engines restrict
    // the expired set with a 1-second guard band below the exact
    // cutoff: Spark tracks watermarks in floored milliseconds while the
    // oracle computes in exact microseconds, and the band makes the
    // boundary row set identical by construction instead of relying on
    // either engine's rounding. Join state stays bounded by 7d+1h of
    // per-user rows — this is the shape that runs forever at any rate.
    "q_stream_outer_join" -> { (s, dir) =>
      def stream = eventsStream(s, dir)
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id").as("u"), col("ts").as("ts_v"))
        .withWatermark("ts_v", "7 days")
      val buys = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u_b"), col("ts").as("ts_b"),
          col("value").as("buy_value"))
        .withWatermark("ts_b", "7 days")
      val joined = views.join(buys,
        col("u") === col("u_b") &&
          col("ts_b") > col("ts_v") &&
          col("ts_b") <= col("ts_v") + expr("INTERVAL 1 HOUR"),
        "left_outer")
      val sink = StreamGate.memory(s, dir, "q_stream_outer_join", joined,
        OutputMode.Append())
      // The deterministic expiry cutoff, from BATCH data: the exact
      // watermark both sides can compute (min of the two sides' max
      // event time, minus the 7d delay), minus the 1h match window,
      // minus the 1s guard band.
      val cut = events(s, dir)
        .agg(least(
          max(when(col("event_type") === "view", col("ts"))),
          max(when(col("event_type") === "purchase", col("ts"))))
          .as("wmax"))
        .select((col("wmax") - expr("INTERVAL 7 DAYS")
          - expr("INTERVAL 1 HOUR")
          - expr("INTERVAL 1 SECOND")).as("cut"))
      sink
        .crossJoin(broadcast(cut))
        .filter(col("ts_b").isNotNull || col("ts_v") < col("cut"))
        .groupBy(col("u").as("user_id"))
        .agg(
          sum(when(col("ts_b").isNotNull, 1).otherwise(0)).cast("long")
            .as("n_pairs"),
          sum(when(col("ts_b").isNull, 1).otherwise(0)).cast("long")
            .as("n_expired_views"),
          dsum(coalesce(col("buy_value"), lit(0.0))).as("buy_sum"))
        .orderBy("user_id")
    },

    // STREAM-STATIC enrichment join — the other canonical streaming join:
    // an unbounded fact stream decorated with a bounded dimension
    // (customer segment), the dimension BROADCAST so the stream side
    // never shuffles and no join state accrues (stream-static joins are
    // stateless by construction — each micro-batch joins against the
    // current table snapshot). Aggregation is complete-mode per
    // (segment, event_type); the oracle is the identical batch join.
    "q_stream_enrich" -> { (s, dir) =>
      val dim = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val agg = eventsStream(s, dir)
        .join(broadcast(dim), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      StreamGate.memory(s, dir, "q_stream_enrich", agg,
        OutputMode.Complete()).orderBy("mktsegment", "event_type")
    },

    // Custom-state streaming (flatMapGroupsWithState + EventTimeTimeout,
    // graft.streaming.Stateful): gap sessionization as an explicit
    // per-user state machine — the API for state `session_window` cannot
    // express. Emission semantics ARE the checked contract: a session
    // closed by a later event of the same user always emits; the last
    // open session per user emits only when the final watermark STRICTLY
    // passes its end+gap (event-time timeout). The oracle reproduces
    // both rules relationally in MILLIS (the state machine folds
    // `ts.getTime`, so microsecond components truncate before the gap
    // compare — a deliberate, mirrored precision contract).
    "q_stream_state_sessions" -> { (s, dir) =>
      stateSessionCounts(s, dir, "q_stream_state_sessions",
        StreamGate.Store.Heap)
    },

    // The SAME custom-state sessionization under the RocksDB state store
    // provider with changelog checkpointing — the production path at
    // 100 TB of state: the default HDFS-backed provider keeps every
    // key's state on the executor HEAP (state size is bounded by
    // memory), while RocksDB spills to local disk and checkpoints
    // incrementally (changelog), so state scales with disk, not heap.
    // Answers to the byte-identical oracle as q_stream_state_sessions:
    // the provider swap is PROVEN hash-invisible, not assumed.
    "q_stream_rocksdb_sessions" -> { (s, dir) =>
      stateSessionCounts(s, dir, "q_stream_rocksdb_sessions",
        StreamGate.Store.RocksDbChangelog)
    },

    // transformWithState LIST STATE — the third v2 primitive: a BOUNDED
    // ListState holds each user's 3 smallest cent-quantized values,
    // rewritten ≤3 elements per batch (state O(k) per user forever).
    // Min-k is a lattice, so min(mink_sum)/max(n_seen) over the emitted
    // snapshots equal the global answer under any batch split; the
    // oracle is the rank-window spelling of the same min-3. Runs the
    // PRODUCTION state posture (r11 verdict #4): default TTL-bounded
    // state in processing TimeMode — inside the 30-day horizon the
    // emissions are bit-identical to the untimed spelling (the oracle is
    // unchanged), and the run drains by expected-count polling because
    // ProcessingTime TimeMode never terminates AvailableNow (see
    // StreamGate.drained). One micro-batch per input file makes the expected
    // emission count exact: one row per (user, file).
    "q_stream_tws_mink" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir, Map("maxFilesPerTrigger" -> "1"))
        .select(col("user_id"),
          expr("CAST(floor(value * 100) AS BIGINT)").as("vq"))
        .as[graft.streaming.ValuedEvent]
      val out = graft.streaming.Tws.minKValues(stream, 3,
        ttl = Some(graft.streaming.Tws.DefaultStateTtl))
      val expected = events(s, dir)
        .select(col("user_id"), input_file_name().as("f"))
        .distinct().count()
      StreamGate.drained(s, dir, "q_stream_tws_mink", out, expected)
        .groupBy("user_id")
        .agg(max(col("n_seen")).cast("long").as("n_events"),
          min(col("mink_sum")).cast("long").as("min3_sum"))
        .orderBy("user_id")
    },

    // dropDuplicatesWithinWatermark — the BOUNDED-state streaming dedup
    // (plain dropDuplicates keeps every key forever; this one evicts
    // keys once the watermark passes them, the only dedup that survives
    // an unbounded stream). The input is deliberately doubled row-wise
    // (explode keeps both copies in the same micro-batch, so no
    // batch-split nondeterminism), the dedup must collapse the pairs
    // exactly, and the oracle is the raw per-type count. The watermark
    // delay is set WIDER than the corpus time span on purpose: with a
    // narrow delay the gate would be exact only while the source yields
    // one micro-batch — under a multi-trigger split, any file lagging
    // more than the delay behind the max seen ts would have its rows
    // DROPPED as late (diverging from the batch GROUP BY oracle). The
    // corpus-span delay keeps the gate green under any batch split;
    // production callers size the delay to their real lateness bound,
    // which is what makes the state bounded.
    "q_stream_dedup_wm" -> { (s, dir) =>
      // Memory shape (the r14 sf10 lesson — this gate OOM'd the 8 GiB
      // heap once q_basket_pairs stopped dying first): its dedup state
      // is one entry per distinct event_id (CORPUS-sized, unlike every
      // sibling whose state is user/type-bounded) and its emission is
      // the full deduped stream. So the state lives in RocksDB (native
      // memory, same sanctioned provider swap as the TWS gates — a swap
      // that changed ANY emitted row would hash-mismatch) and the
      // emission goes to a parquet FILE sink read back for the
      // aggregate (the q_stream_etl round-trip shape) instead of a
      // driver-heap memory sink holding every deduped row.
      val doubled = eventsStream(s, dir)
        .select(col("ts"), col("event_id"), col("event_type"),
          explode(array(lit(1), lit(2))).as("copy"))
        .drop("copy")
      val deduped = doubled.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark("event_id")
      StreamGate.parquet(s, dir, "q_stream_dedup_wm", deduped,
          StreamGate.Store.RocksDb) { (out, _) =>
        s.read.parquet(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"))
          .orderBy("event_type")
      }
    },

    // TTL-bounded TWS state (r10 verdict #6) — the production
    // state-size control at 100 TB: ValueState declared with a REAL
    // TTLConfig, keys provably EVICTED, the post-TTL answer pinned by
    // the oracle. The corpus is written as TWO parquet files (split on
    // event_id parity so every user spans both) and read one file per
    // trigger → two micro-batches with distinct batch timestamps; with
    // ttl = 1 ms every key's state expires before the next batch plans
    // (a micro-batch takes orders of magnitude longer than 1 ms), so
    // each emission counts ONLY its own batch and resumed = FALSE
    // everywhere. Summing the per-batch emissions then reconstructs the
    // exact per-user corpus count. A failed eviction would BOTH flip
    // max(resumed) to TRUE and double-count sum(n) — hash mismatch on
    // two columns at once; eviction is proven by emission, not by
    // store introspection.
    "q_stream_tws_ttl" -> { (s, dir) =>
      import s.implicits._
      val ev = events(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"))
      // The memory sink holds the result, so the input copy is deleted
      // as soon as the stream has drained.
      StreamGate.withTempDir("graft_q_stream_tws_ttl_") { base =>
        ev.filter(col("event_id") % 2 === 0).drop("event_id").coalesce(1)
          .write.mode("overwrite").parquet(base)
        ev.filter(col("event_id") % 2 === 1).drop("event_id").coalesce(1)
          .write.mode("append").parquet(base)
        val stream = s.readStream
          .schema(ev.drop("event_id").schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(base)
          .as[graft.streaming.UserTypedEvent]
        val out = graft.streaming.Tws.ttlCounts(stream,
          java.time.Duration.ofMillis(1L))
        // ProcessingTime TimeMode → drain by the EXACT expected
        // emission count — one row per (user, file-batch) group,
        // computable from the two written halves.
        val expected = s.read.parquet(base)
          .select(col("user_id"), input_file_name().as("f"))
          .distinct().count()
        StreamGate.drained(s, dir, "q_stream_tws_ttl", out, expected)
      }.groupBy("user_id")
        .agg(sum(col("n")).cast("long").as("n_events"),
          max(col("resumed")).as("resumed"))
        .orderBy("user_id")
    },

    // The STATE-STORE READER (r10 verdict #4) — the ops/debugging
    // surface every production streaming deployment uses: a finished
    // checkpoint's state store read back as a BATCH DataFrame via
    // spark.read.format("statestore"). The gap-sessionization stream
    // runs to completion against an explicit checkpoint, then the
    // checkpoint's per-user OpenSession state rows — the sessions the
    // stream had NOT yet closed when the input ran dry — are read back
    // and oracle-matched against the relational complement of the
    // stream's own emission rule: each user's LAST session, kept iff
    // its gap horizon is at or past the final watermark (strict-pass
    // closes; REACHED holds). State correctness is thus pinned from
    // OUTSIDE the streaming engine, on the same ground truth as
    // q_stream_state_sessions' emitted half.
    "q_state_reader" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[graft.streaming.UserEvent]
      val sessions = graft.streaming.Stateful
        .statefulSessions(stream, GapUs / 1000L, "0 seconds")
      // Parquet sink for the (discarded) emissions — the gate reads the
      // STATE STORE; a memory sink would hold every closed session on
      // the driver heap for nothing (r14 sf10 lesson).
      StreamGate.parquet(s, dir, "q_state_reader", sessions) { (_, ckpt) =>
        s.read.format("statestore").load(ckpt)
          .select(col("key.value").as("user_id"),
            col("value.groupState.startMs").as("start_ms"),
            col("value.groupState.endMs").as("end_ms"),
            col("value.groupState.n").cast("long").as("n_open_events"))
          .orderBy("user_id")
      }
    },

    // The v2 half of the state-store reader surface: the SAME held-
    // state contract as q_state_reader, but the stream is the
    // transformWithState timer sessionizer and the read targets its
    // NAMED state variable (`stateVarName = open`) — the v2 API's
    // individually-addressable primitives are individually READABLE
    // from a finished checkpoint. Both reader gates answer the same
    // relational-complement oracle, because the v1 and v2 emission
    // semantics are byte-identical by construction.
    "q_tws_state_reader" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[graft.streaming.UserEvent]
      val sessions = graft.streaming.Tws
        .timerSessions(stream, GapUs / 1000L, "0 seconds")
      // Parquet sink for the (discarded) emissions — the gate reads the
      // STATE STORE; a memory sink would still hold every closed session
      // on the driver heap for nothing (r14 sf10 lesson).
      StreamGate.parquet(s, dir, "q_tws_state_reader", sessions,
          StreamGate.Store.RocksDb) { (_, ckpt) =>
        s.read.format("statestore")
          .option("stateVarName", "open")
          .load(ckpt)
          .select(col("key.value").as("user_id"),
            col("value.startMs").as("start_ms"),
            col("value.endMs").as("end_ms"),
            col("value.n").cast("long").as("n_open_events"))
          .orderBy("user_id")
      }
    },

    // transformWithState INITIAL STATE — the backfill→stream handoff: a
    // BATCH aggregate over the even-event_id half seeds each user's
    // state via handleInitialState, the ODD half then streams on top,
    // and the final per-user counts must equal the full-corpus GROUP BY
    // (restricted to users that emit, i.e. have ≥1 streamed event) —
    // proving the handoff lost nothing and double-counted nothing.
    "q_stream_init_state" -> { (s, dir) =>
      import s.implicits._
      val initial = events(s, dir)
        .filter(col("event_id") % 2 === 0)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .select(col("user_id").as("_1"), col("n").as("_2"))
        .as[(Long, Long)]
      val stream = eventsStream(s, dir, Map("maxFilesPerTrigger" -> "1"))
        .filter(col("event_id") % 2 === 1)
        .select(col("user_id"), col("event_type"))
        .as[graft.streaming.UserTypedEvent]
      val out = graft.streaming.Tws.seededCounts(stream, initial,
        ttl = Some(graft.streaming.Tws.DefaultStateTtl))
      // Production TTL'd state posture (r11 verdict #4) → ProcessingTime
      // TimeMode → drain by expected count (see StreamGate.drained): one
      // emission per (user-with-odd-events, file-batch).
      val expected = events(s, dir)
        .filter(col("event_id") % 2 === 1)
        .select(col("user_id"), input_file_name().as("f"))
        .distinct().count()
      StreamGate.drained(s, dir, "q_stream_init_state", out, expected)
        .groupBy("user_id")
        .agg(max(col("n_events")).cast("long").as("n_events"))
        .orderBy("user_id")
    },

    // foreachBatch — THE production streaming sink API (custom writers,
    // multi-sink fan-out, JDBC/REST targets): each micro-batch arrives
    // as a plain DataFrame with its batchId, and exactly-once is the
    // SINK's job via idempotent per-batchId publishing (a re-delivered
    // batch REPLACES its slot, never appends — the put() here is the
    // same upsert a real target keys on batch_id). The gate reduces each
    // batch to per-type exact-decimal partials (bounded: |event types|
    // rows per batch), merges the published slots, and answers to the
    // plain batch GROUP BY oracle — so batch splits, re-deliveries, and
    // the partial-merge algebra are all proven invisible.
    "q_foreach_batch" -> { (s, dir) =>
      import s.implicits._
      val acc = new java.util.concurrent.ConcurrentHashMap[
        java.lang.Long, Array[(String, Long, java.math.BigDecimal)]]()
      val stream = eventsStream(s, dir)
        .select(col("event_type"), col("value"))
      StreamGate.start(s, dir, stream)(_
        .foreachBatch { (df: DataFrame, batchId: Long) =>
          val partial = df.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(DecimalType(28, 6))).as("sv"))
            .collect()
            .map(r => (r.getString(0), r.getLong(1),
              r.getDecimal(2).setScale(6)))
          acc.put(batchId, partial) // idempotent: replace, not append
          ()
        }
        .trigger(Trigger.AvailableNow()).start()).awaitTermination()
      import scala.jdk.CollectionConverters._
      acc.values().asScala.flatten.toSeq
        .toDF("event_type", "n", "sv")
        .groupBy("event_type")
        .agg(sum(col("n")).cast("long").as("n"),
          round(sum(col("sv").cast(DecimalType(28, 6))), 4)
            .cast(DoubleType).as("sum_value"))
        .orderBy("event_type")
    },

    // transformWithState EVENT-TIME TIMERS: the same gap sessionization
    // as q_stream_state_sessions re-expressed on the v2 API —
    // registerTimer/handleExpiredTimer instead of
    // GroupStateTimeout.EventTimeTimeout — and answering to the
    // byte-identical oracle, so all three spellings (fMGWS, TWS,
    // relational SQL) are proven to share one emission semantics,
    // including the strict watermark-pass rule on the last open session.
    "q_stream_tws_timers" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("ts"))
        .as[graft.streaming.UserEvent]
      val sessions = graft.streaming.Tws
        .timerSessions(stream, GapUs / 1000L, "0 seconds")
      // Parquet file sink (r14 sf10 lesson, same class as
      // stateSessionCounts): the emission is the corpus-sized
      // closed-session set — a memory sink re-serializes it into every
      // downstream task as a parallelized local collection.
      StreamGate.parquet(s, dir, "q_stream_tws_timers", sessions,
          StreamGate.Store.RocksDb) { (out, _) =>
        perUserSessions(s.read.parquet(out))
      }
    },

    // transformWithState — Spark 4's arbitrary-state v2 API (named
    // ValueState + MapState primitives in the RocksDB store, the
    // successor to flatMapGroupsWithState): per-user event-type
    // profiling with point-wise MapState updates. Emissions are
    // monotone snapshots, so the downstream max() per user is the final
    // profile no matter how the input batches; the oracle is the plain
    // batch GROUP BY the stream must converge to. Runs the PRODUCTION
    // state posture (r11 verdict #4): default TTL-bounded state in
    // processing TimeMode, drained by expected-count polling (one row
    // per (user, file-batch) — see StreamGate.drained).
    "q_stream_tws_profile" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir, Map("maxFilesPerTrigger" -> "1"))
        .select(col("user_id"), col("event_type"))
        .as[graft.streaming.UserTypedEvent]
      val out = graft.streaming.Tws.userTypeStats(stream,
        ttl = Some(graft.streaming.Tws.DefaultStateTtl))
      val expected = events(s, dir)
        .select(col("user_id"), input_file_name().as("f"))
        .distinct().count()
      StreamGate.drained(s, dir, "q_stream_tws_profile", out, expected)
        .groupBy("user_id")
        .agg(max(col("n_types")).cast("long").as("n_types"),
          max(col("n_events")).cast("long").as("n_events"))
        .orderBy("user_id")
    },

    // Streaming EWMA burst detection — an ordered per-key integer
    // recursion carried in flatMapGroupsWithState state (see
    // [[graft.streaming.Stateful.streamEwmaBurst]]): the stateful shape
    // windowed aggregations can't express. The EWMA update
    // (x + 3·ewma) div 4 is exact integer arithmetic, so the stream's
    // answer is bit-equal to the oracle's RECURSIVE CTE walking the
    // same hourly counts — a genuine streaming-vs-recursive-SQL parity
    // proof. State per type is one (hb, ewma) pair; the per-batch hour
    // map is calendar-bounded.
    "q_stream_ewma" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir)
        .select(col("event_type"),
          expr("unix_micros(ts) div 3600000000").as("hb"))
        .as[graft.streaming.TypedHourEvent]
      val scored = graft.streaming.Stateful.streamEwmaBurst(stream)
      StreamGate.memory(s, dir, "q_stream_ewma", scored, OutputMode.Append())
        .groupBy("event_type")
        .agg(count(lit(1)).cast("long").as("n_hours"),
          sum(when(col("burst"), 1).otherwise(0)).cast("long")
            .as("n_bursts"),
          min(when(col("burst"), col("hb"))).as("first_burst_hb"))
        .orderBy("event_type")
    },

    // Realtime last-touch attribution: flatMapGroupsWithState keeps ONE
    // string per user (the latest non-purchase touch) and emits each
    // purchase credited to it as it streams past — the stateful mirror
    // of the batch q_attribution window, gated against the IDENTICAL
    // oracle, so the streaming and batch paths are proven to agree.
    "q_stream_attribution" -> { (s, dir) =>
      import s.implicits._
      val stream = eventsStream(s, dir)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"), col("event_type"), col("value"))
        .as[graft.streaming.AttrEvent]
      val attributed = graft.streaming.Stateful.streamAttribution(stream)
      StreamGate.memory(s, dir, "q_stream_attribution", attributed,
        OutputMode.Append())
        .groupBy("attributed")
        .agg(count(lit(1)).as("n_purchases"),
          graft.queries.Q.dsum(col("value")).as("sum_value"))
        .orderBy("attributed")
    },
  )

  private val breaksSql =
    s"""SELECT user_id, event_id,
       |  CASE WHEN prev_us IS NULL OR us - prev_us > $GapUs
       |       THEN 1 ELSE 0 END AS brk, us
       |FROM (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
       |      PARTITION BY user_id
       |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_us
       |  FROM events)""".stripMargin

  private val sessionizeSql =
    s"""SELECT user_id, CAST(sum(brk) AS BIGINT) AS n_sessions,
       |  count(*) AS n_events
       |FROM ($breaksSql)
       |GROUP BY user_id
       |ORDER BY user_id""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_sessionize" -> sessionizeSql,
    "q_session_window" -> sessionizeSql,

    "q_stream_session" ->
      s"""WITH s AS (
         |  SELECT user_id, sid, count(*) AS n_ev, max(us) AS last_us
         |  FROM (
         |    SELECT user_id, us,
         |      sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |    FROM ($breaksSql))
         |  GROUP BY user_id, sid)
         |SELECT user_id, count(*) AS n_sessions,
         |  CAST(sum(n_ev) AS BIGINT) AS n_events
         |FROM s
         |WHERE last_us + $GapUs <=
         |  (SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) FROM events)
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin,

    "q_stream_cms" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS cnt
        |  FROM events GROUP BY event_type, user_id),
        |r AS (
        |  SELECT event_type, user_id, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY cnt DESC, user_id) AS rn
        |  FROM c)
        |SELECT event_type, user_id, cnt, TRUE AS cms_ok
        |FROM r WHERE rn = 1
        |ORDER BY event_type""".stripMargin,

    "q_hll_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_stream_hll" ->
      s"""WITH $ev2Sql,
         |w AS (
         |  SELECT (us // 21600000000) * 21600000000 AS win_us,
         |    event_type, count(DISTINCT user_id) AS exact_users
         |  FROM ev2 GROUP BY 1, 2)
         |SELECT win_us, event_type, exact_users, TRUE AS hll_ok
         |FROM w
         |ORDER BY win_us, event_type""".stripMargin,

    "q_hll_overlap" ->
      """WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        |n AS (SELECT event_type, count(*) AS n FROM du
        |      GROUP BY event_type),
        |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |        a.n AS n_a, b.n AS n_b
        |      FROM n a JOIN n b ON a.event_type < b.event_type),
        |i AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |        count(*) AS exact_inter
        |      FROM du x JOIN du y ON x.user_id = y.user_id
        |        AND x.event_type < y.event_type
        |      GROUP BY 1, 2)
        |SELECT p.type_a, p.type_b,
        |  COALESCE(i.exact_inter, 0) AS exact_inter,
        |  p.n_a + p.n_b - COALESCE(i.exact_inter, 0) AS exact_union,
        |  TRUE AS hll_ok
        |FROM p LEFT JOIN i
        |  ON p.type_a = i.type_a AND p.type_b = i.type_b
        |ORDER BY p.type_a, p.type_b""".stripMargin,

    "q_session_stats" ->
      s"""WITH b AS (
         |  SELECT user_id, brk, us,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM ($breaksSql)),
         |s AS (
         |  SELECT user_id, sid, count(*) AS n_ev,
         |    max(us) - min(us) AS dur_us
         |  FROM b GROUP BY user_id, sid)
         |SELECT count(*) AS n_sessions,
         |  CAST(sum(n_ev) AS DOUBLE) / count(*) AS avg_events_per_session,
         |  CAST(sum(dur_us) AS DOUBLE) / count(*) AS avg_dur_us,
         |  max(n_ev) AS max_events
         |FROM s""".stripMargin,

    "q_json_props" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |       AS BIGINT) AS sum_k,
        |  count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // DuckDB's IGNORE NULLS spelling of the same running frame.
    "q_locf_window" ->
      s"""WITH $ev2Sql,
         |f AS (
         |  SELECT user_id,
         |    last_value(CASE WHEN event_type = 'purchase' THEN value END
         |      IGNORE NULLS) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS locf
         |  FROM ev2)
         |SELECT user_id, count(*) AS n,
         |  count(locf) AS n_filled,
         |  ${dsumSql("COALESCE(locf, 0.0)")} AS locf_sum
         |FROM f
         |GROUP BY user_id
         |ORDER BY user_id""".stripMargin,

    // The identical frame text over the cast timestamp.
    "q_interval_frame" ->
      """SELECT event_type,
        |  max(c1h) AS peak_1h,
        |  CAST(sum(c1h) AS BIGINT) AS sum_c1h,
        |  count(*) AS n
        |FROM (
        |  SELECT event_type,
        |    CAST(count(*) OVER (PARTITION BY event_type
        |      ORDER BY CAST(ts AS TIMESTAMP)
        |      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING
        |        AND CURRENT ROW) AS BIGINT) AS c1h
        |  FROM events)
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // Gaps-and-islands: within a user, rn − rn-per-type is constant
    // exactly on a consecutive same-type run; ties on length resolve
    // to the earliest run start (run starts are unique per user, so
    // the pick is total).
    "q_typed_runs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |r AS (
        |  SELECT user_id, event_type, us, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS rn,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id) AS rt
        |  FROM e),
        |g AS (
        |  SELECT user_id, event_type, rn - rt AS grp,
        |    CAST(count(*) AS BIGINT) AS len, min(us) AS start_us
        |  FROM r GROUP BY 1, 2, 3),
        |n AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY 1),
        |b AS (
        |  SELECT user_id, len, event_type, row_number() OVER (
        |    PARTITION BY user_id ORDER BY len DESC, start_us) AS rk
        |  FROM g)
        |SELECT b.user_id, b.len AS max_run, b.event_type AS run_type,
        |  n.n_events
        |FROM b JOIN n ON b.user_id = n.user_id
        |WHERE b.rk = 1
        |ORDER BY b.user_id""".stripMargin,

    // The oracle recomputes the observed counters from scratch; the
    // engine's came from the .observe side channel on the query's pass.
    "q_observe_metrics" ->
      """WITH g AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |  FROM events GROUP BY 1),
        |o AS (
        |  SELECT count(*) AS obs_rows,
        |    CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS obs_null_props,
        |    max(user_id) AS obs_max_user
        |  FROM events)
        |SELECT event_type, n, sum_v, obs_rows, obs_null_props,
        |  obs_max_user
        |FROM g CROSS JOIN o
        |ORDER BY event_type""".stripMargin,

    // No JSON/VARIANT on the oracle side at all — raw-column arithmetic.
    // A pass therefore proves the engine's whole VARIANT loop lossless.
    "q_variant_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_u,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |       AS BIGINT) AS sum_k,
        |  count(DISTINCT event_type) AS n_types
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // The engine binds :lo/:hi as named parameters; the oracle inlines
    // the same literals.
    "q_param_sql" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events
        |WHERE value >= 10.0 AND value < 90.0
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_daily_active" ->
      s"""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
         |  count(DISTINCT user_id) AS n_users,
         |  count(*) AS n_events,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY 1
         |ORDER BY day""".stripMargin,

    "q_ohlc_bars" ->
      """WITH ev AS (
        |  SELECT event_type, event_id, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hb
        |  FROM events),
        |r AS (
        |  SELECT event_type, hb, value,
        |    row_number() OVER (PARTITION BY event_type, hb
        |                       ORDER BY us, event_id) AS rno,
        |    row_number() OVER (PARTITION BY event_type, hb
        |                       ORDER BY us DESC, event_id DESC) AS rnc
        |  FROM ev)
        |SELECT event_type, hb, count(*) AS n,
        |  max(CASE WHEN rno = 1 THEN value END) AS open,
        |  max(value) AS high, min(value) AS low,
        |  max(CASE WHEN rnc = 1 THEN value END) AS close
        |FROM r GROUP BY event_type, hb
        |ORDER BY event_type, hb""".stripMargin,

    "q_path_mining" ->
      s"""WITH sb AS (
         |  SELECT user_id, event_id, us,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM ($breaksSql)),
         |et AS (
         |  SELECT sb.user_id, sb.event_id, sb.us, sb.sid, e.event_type
         |  FROM sb JOIN events e ON sb.event_id = e.event_id),
         |lagged AS (
         |  SELECT
         |    lag(event_type, 2) OVER w AS p1,
         |    lag(event_type, 1) OVER w AS p2,
         |    event_type
         |  FROM et
         |  WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id))
         |SELECT p1 || ' > ' || p2 || ' > ' || event_type AS path,
         |  count(*) AS n
         |FROM lagged WHERE p1 IS NOT NULL
         |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,

    "q_debounce" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type, value,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |k AS (
        |  SELECT event_type, value,
        |    (lag(us) OVER (PARTITION BY user_id, event_type
        |                   ORDER BY us, event_id) IS NULL
        |     OR us - lag(us) OVER (PARTITION BY user_id, event_type
        |                           ORDER BY us, event_id) > 5000000)
        |      AS keep
        |  FROM ev)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(SUM(CASE WHEN keep
        |    THEN CAST(value AS DECIMAL(18,4)) END) AS DOUBLE)
        |    AS sum_kept_value
        |FROM k GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_funnel_integrity" ->
      s"""WITH sb AS (
         |  SELECT user_id, event_id, us,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM ($breaksSql)),
         |et AS (
         |  SELECT sb.user_id, sb.event_id, sb.us, sb.sid, e.event_type
         |  FROM sb JOIN events e ON sb.event_id = e.event_id),
         |vb AS (
         |  SELECT event_type,
         |    coalesce(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY user_id, sid ORDER BY us, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) AS views_before
         |  FROM et)
         |SELECT count(*) AS n_purchases,
         |  CAST(sum(CASE WHEN views_before = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_orphan_purchases,
         |  round(CAST(sum(CASE WHEN views_before = 0 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS orphan_ratio
         |FROM vb WHERE event_type = 'purchase'""".stripMargin,

    "q_user_timeline" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  md5(string_agg(us || ':' || event_id || ':' || event_type, '|'
        |      ORDER BY us, event_id, event_type)) AS timeline_md5
        |FROM ev GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_chi2_cohort" ->
      """WITH cells AS (
        |  SELECT event_type, CAST(user_id % 2 AS INTEGER) AS grp,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2),
        |rt AS (SELECT event_type, CAST(sum(o) AS HUGEINT) AS rt
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT grp, CAST(sum(o) AS HUGEINT) AS ct
        |       FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS HUGEINT) AS n,
        |               count(DISTINCT event_type) AS k FROM cells),
        |terms AS (
        |  SELECT round(
        |    CAST(o * n - rt * ct AS DOUBLE) *
        |    CAST(o * n - rt * ct AS DOUBLE) /
        |    CAST(rt * ct * n AS DOUBLE), 9) AS term, n, k
        |  FROM cells
        |  JOIN rt USING (event_type)
        |  JOIN ct USING (grp)
        |  CROSS JOIN tot)
        |SELECT CAST(max(n) AS BIGINT) AS n_events,
        |  CAST(max(k) - 1 AS BIGINT) AS dof,
        |  CAST(sum(CAST(term AS DECIMAL(28,9))) AS DOUBLE) AS chi2
        |FROM terms""".stripMargin,

    "q_ab_metric" ->
      s"""WITH g AS (
         |  SELECT event_type, CAST(user_id % 2 AS INTEGER) AS grp,
         |    count(*) AS n,
         |    ${dsumSql("value")} AS s1,
         |    ${dsumSql("value * value")} AS s2
         |  FROM events GROUP BY 1, 2),
         |m AS (
         |  SELECT event_type, grp, n, s1 / n AS mean,
         |    (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) AS var
         |  FROM g)
         |SELECT a.event_type, a.n AS n_a, b.n AS n_b,
         |  round(a.mean - b.mean, 6) AS mean_diff,
         |  CASE WHEN a.n > 1 AND b.n > 1 THEN
         |    round((a.mean - b.mean) /
         |          sqrt(a.var / a.n + b.var / b.n), 6) END AS t_welch
         |FROM m a JOIN m b
         |  ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1
         |ORDER BY a.event_type""".stripMargin,

    "q_skew_report" ->
      """WITH pk AS (
        |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
        |tot AS (SELECT count(*) AS n_keys,
        |               CAST(sum(n) AS BIGINT) AS tot FROM pk)
        |SELECT user_id, n, n_keys, tot,
        |  round(CAST(n * n_keys AS DOUBLE) / tot, 6) AS skew_ratio
        |FROM pk CROSS JOIN tot
        |ORDER BY n DESC, user_id LIMIT 5""".stripMargin,

    "q_audience_overlap" ->
      """WITH ua AS (
        |  SELECT DISTINCT event_type, user_id FROM events),
        |sz AS (
        |  SELECT event_type, count(*) AS n_users FROM ua GROUP BY 1),
        |b AS (
        |  SELECT a.event_type AS ta, c.event_type AS tb,
        |    count(*) AS n_both
        |  FROM ua a JOIN ua c ON a.user_id = c.user_id
        |  WHERE a.event_type < c.event_type
        |  GROUP BY 1, 2)
        |SELECT ta, tb, x.n_users AS na, y.n_users AS nb, n_both,
        |  round(CAST(n_both AS DOUBLE) /
        |        (x.n_users + y.n_users - n_both), 6) AS jaccard
        |FROM b JOIN sz x ON b.ta = x.event_type
        |JOIN sz y ON b.tb = y.event_type
        |ORDER BY ta, tb""".stripMargin,

    // Mirrors AsOfJoin's union-merge plan in SQL so the tie semantics
    // (right rows sort before left at equal ts; largest view id wins among
    // equal-ts views) are pinned down identically in both engines.
    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, 0 AS side,
        |    event_id AS tie, event_id AS v_id, CAST(NULL AS BIGINT) AS b_id
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), 1,
        |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), event_id
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT b_id, user_id, t, side,
        |    last_value(v_id IGNORE NULLS) OVER w AS view_event_id,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER w AS view_us
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, side, tie
        |               ROWS UNBOUNDED PRECEDING))
        |SELECT b_id AS buy_event_id, user_id, t AS buy_us,
        |  view_event_id, view_us
        |FROM m WHERE side = 1
        |ORDER BY buy_event_id""".stripMargin,

    "q_session_depth" ->
      s"""WITH se AS (
         |  SELECT user_id, sid, count(*) AS depth
         |  FROM (
         |    SELECT user_id, us,
         |      sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |    FROM ($breaksSql))
         |  GROUP BY user_id, sid)
         |SELECT CAST(depth AS BIGINT) AS depth,
         |  count(*) AS n_sessions
         |FROM se
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_repeat_purchase" ->
      """WITH p AS (
        |  SELECT user_id, event_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events WHERE event_type = 'purchase'),
        |g AS (
        |  SELECT us - lag(us) OVER (PARTITION BY user_id
        |                            ORDER BY us, event_id) AS gap_us
        |  FROM p)
        |SELECT count(*) AS n_gaps,
        |  CAST(SUM(CASE WHEN gap_us <= 86400000000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_within_24h,
        |  round(quantile_cont(gap_us, 0.5), 4) AS p50_gap_us,
        |  round(quantile_cont(gap_us, 0.9), 4) AS p90_gap_us
        |FROM g WHERE gap_us IS NOT NULL""".stripMargin,

    "q_peak_concurrency" ->
      s"""WITH se AS (
         |  SELECT user_id, sid, min(us) AS t0, max(us) AS t1
         |  FROM (
         |    SELECT user_id, us,
         |      sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                     ROWS UNBOUNDED PRECEDING) AS sid
         |    FROM ($breaksSql))
         |  GROUP BY user_id, sid),
         |b AS (
         |  SELECT t0 AS us, 1 AS delta FROM se
         |  UNION ALL
         |  SELECT t1 + 1, -1 FROM se),
         |c AS (
         |  SELECT us,
         |    sum(delta) OVER (ORDER BY us, delta
         |                     ROWS UNBOUNDED PRECEDING) AS occ
         |  FROM b),
         |p AS (SELECT CAST(max(occ) AS BIGINT) AS max_concurrent FROM c)
         |SELECT
         |  (SELECT count(*) FROM se) AS n_sessions,
         |  p.max_concurrent,
         |  (SELECT min(us) FROM c, p WHERE c.occ = p.max_concurrent)
         |    AS first_peak_us
         |FROM p""".stripMargin,

    "q_funnel_steps" ->
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |t1 AS (
        |  SELECT user_id, min(us) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |t2 AS (
        |  SELECT e.user_id, t1.t1, min(e.us) AS t2
        |  FROM e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.us >= t1.t1
        |  GROUP BY 1, 2),
        |t3 AS (
        |  SELECT e.user_id, t2.t1, t2.t2, min(e.us) AS t3
        |  FROM e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us >= t2.t2
        |  GROUP BY 1, 2, 3)
        |SELECT
        |  (SELECT count(*) FROM t1) AS n_viewed,
        |  (SELECT count(*) FROM t2) AS n_clicked_after,
        |  (SELECT count(*) FROM t3) AS n_purchased_after,
        |  (SELECT CAST(COALESCE(SUM(
        |     CASE WHEN t3 - t1 <= 3600000000 THEN 1 ELSE 0 END), 0)
        |   AS BIGINT) FROM t3) AS n_completed_1h""".stripMargin,

    "q_error_impact" ->
      s"""WITH b AS (
         |  SELECT user_id, event_type, brk,
         |    sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
         |                   ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM (
         |    SELECT user_id, event_id, event_type,
         |      epoch_us(CAST(ts AS TIMESTAMP)) AS us,
         |      CASE WHEN lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
         |          PARTITION BY user_id
         |          ORDER BY CAST(ts AS TIMESTAMP), event_id) IS NULL
         |        OR epoch_us(CAST(ts AS TIMESTAMP)) -
         |           lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
         |          PARTITION BY user_id
         |          ORDER BY CAST(ts AS TIMESTAMP), event_id) > $GapUs
         |        THEN 1 ELSE 0 END AS brk
         |    FROM events)),
         |se AS (
         |  SELECT user_id, sid,
         |    max(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
         |      AS has_error,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS has_purchase
         |  FROM b GROUP BY 1, 2)
         |SELECT CAST(has_error AS BIGINT) AS has_error,
         |  count(*) AS n_sessions,
         |  CAST(SUM(has_purchase) AS BIGINT) AS n_purchase_sessions,
         |  round(CAST(SUM(has_purchase) AS DOUBLE) / count(*), 6)
         |    AS conv_rate
         |FROM se
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Same union-merge attribution as q_asof_join, reduced to the gap
    // distribution.
    "q_time_to_convert" ->
      """WITH u AS (
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, 0 AS side,
        |    event_id AS tie
        |  FROM events WHERE event_type = 'view'
        |  UNION ALL
        |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)), 1,
        |    CAST(NULL AS BIGINT)
        |  FROM events WHERE event_type = 'purchase'),
        |m AS (
        |  SELECT side, t,
        |    last_value(CASE WHEN side = 0 THEN t END IGNORE NULLS)
        |      OVER w AS view_us
        |  FROM u
        |  WINDOW w AS (PARTITION BY user_id ORDER BY t, side, tie
        |               ROWS UNBOUNDED PRECEDING)),
        |g AS (
        |  SELECT t - view_us AS gap_us FROM m
        |  WHERE side = 1 AND view_us IS NOT NULL)
        |SELECT count(*) AS n_conversions,
        |  round(CAST(sum(gap_us) AS DOUBLE) / count(*), 4) AS mean_gap_us,
        |  round(quantile_cont(gap_us, 0.25), 4) AS p25,
        |  round(quantile_cont(gap_us, 0.5), 4) AS p50,
        |  round(quantile_cont(gap_us, 0.9), 4) AS p90,
        |  round(quantile_cont(gap_us, 0.99), 4) AS p99
        |FROM g""".stripMargin,

    "q_stream_hourly" ->
      s"""SELECT epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
         |    AS hour_us,
         |  event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY 1, 2
         |ORDER BY hour_us, event_type""".stripMargin,

    "q_zscore_outliers" ->
      s"""WITH st AS (
         |  SELECT event_type, count(*) AS n,
         |    ${dsumSql("CAST(value AS DOUBLE)")} AS s1,
         |    ${dsumSql("CAST(value AS DOUBLE) * CAST(value AS DOUBLE)", 4)}
         |      AS s2
         |  FROM events GROUP BY event_type),
         |m AS (
         |  SELECT event_type, s1 / n AS mean,
         |    sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1)) AS sd
         |  FROM st),
         |x AS (
         |  SELECT e.event_type,
         |    (CAST(e.value AS DOUBLE) - m.mean) / m.sd AS z
         |  FROM events e JOIN m USING (event_type))
         |SELECT event_type, count(*) AS n_events,
         |  CAST(sum(CASE WHEN abs(z) > 2.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_outliers,
         |  round(max(abs(z)), 6) AS max_abs_z
         |FROM x
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,

    // Same 70/30 integer cutoff, same deterministic argmax (count DESC,
    // type ASC via row_number), same straddle-pairs-are-eval rule.
    "q_markov_backtest" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS us
        |  FROM events),
        |c AS (SELECT min(us) + ((max(us) - min(us)) * 7) // 10 AS cutoff
        |      FROM ev),
        |p AS (
        |  SELECT user_id, us, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS prev
        |  FROM ev),
        |pr AS (SELECT * FROM p WHERE prev IS NOT NULL),
        |tr AS (
        |  SELECT prev, event_type, count(*) AS n
        |  FROM pr CROSS JOIN c WHERE us < cutoff GROUP BY 1, 2),
        |model AS (
        |  SELECT prev, event_type AS pred FROM (
        |    SELECT prev, event_type,
        |      row_number() OVER (PARTITION BY prev
        |        ORDER BY n DESC, event_type) AS rk
        |    FROM tr) WHERE rk = 1),
        |ev2 AS (SELECT pr.* FROM pr CROSS JOIN c WHERE us >= cutoff)
        |SELECT ev2.prev, count(*) AS n_eval,
        |  CAST(sum(CASE WHEN m.pred = ev2.event_type THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_hit,
        |  round(CAST(sum(CASE WHEN m.pred = ev2.event_type THEN 1
        |    ELSE 0 END) AS DOUBLE) / count(*), 6) AS accuracy
        |FROM ev2 LEFT JOIN model m ON ev2.prev = m.prev
        |GROUP BY ev2.prev
        |ORDER BY ev2.prev""".stripMargin,

    "q_event_transitions" ->
      """WITH p AS (
        |  SELECT lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev,
        |    event_type AS curr
        |  FROM events),
        |f AS (SELECT prev, curr FROM p WHERE prev IS NOT NULL),
        |c AS (SELECT prev, curr, count(*) AS n_trans FROM f GROUP BY 1, 2),
        |t AS (SELECT count(*) AS tot FROM f)
        |SELECT prev, curr, n_trans,
        |  round(CAST(n_trans AS DOUBLE) / tot, 6) AS prob
        |FROM c, t
        |ORDER BY prev, curr""".stripMargin,

    "q_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
        |  FROM events),
        |f AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY 1)
        |SELECT f.cohort,
        |  CAST(date_diff('day', f.cohort, ev.d) AS INT) AS day_offset,
        |  count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN f USING (user_id)
        |WHERE date_diff('day', f.cohort, ev.d) <= 7
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,

    "q_mad_outliers" ->
      """WITH med AS (
        |  SELECT event_type,
        |    quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
        |  FROM events GROUP BY event_type),
        |dev AS (
        |  SELECT e.event_type, med.med,
        |    abs(CAST(e.value AS DOUBLE) - med.med) AS adev
        |  FROM events e JOIN med USING (event_type)),
        |mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
        |  FROM dev GROUP BY event_type)
        |SELECT dev.event_type, count(*) AS n_events,
        |  round(max(dev.med), 6) AS med,
        |  round(max(mad.mad), 6) AS mad,
        |  CAST(sum(CASE WHEN dev.adev > 4.4478 * mad.mad
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev JOIN mad USING (event_type)
        |GROUP BY dev.event_type
        |ORDER BY dev.event_type""".stripMargin,

    "q_range_join" ->
      """SELECT count(*) AS n_pairs,
        |  count(DISTINCT b.event_id) AS n_buys,
        |  count(DISTINCT b.user_id) AS n_users
        |FROM (SELECT event_id, user_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS t_buy
        |      FROM events WHERE event_type = 'purchase') b
        |JOIN (SELECT event_id, user_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS t_view
        |      FROM events WHERE event_type = 'view') v
        |  ON b.user_id = v.user_id
        | AND v.t_view >= b.t_buy - 600000000
        | AND v.t_view <= b.t_buy - 1""".stripMargin,

    "q_stream_dedup" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_stream_sliding" ->
      s"""SELECT epoch_us(w) AS win_us, count(*) AS n,
         |  ${dsumSql("value")} AS sum_value
         |FROM (
         |  SELECT unnest([date_trunc('hour', CAST(ts AS TIMESTAMP)),
         |                 date_trunc('hour', CAST(ts AS TIMESTAMP))
         |                   - INTERVAL 1 HOUR]) AS w,
         |    value
         |  FROM events)
         |GROUP BY 1
         |ORDER BY win_us""".stripMargin,

    "q_rolling_hourly" ->
      s"""WITH hourly AS (
         |  SELECT event_type,
         |    date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |    count(*) AS n, ${dsumSql("value")} AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, epoch_us(h) AS hour_us, n,
         |  CAST(sum(n) OVER w AS BIGINT) AS roll_n,
         |  CAST(sum(CAST(v AS DECIMAL(18,4))) OVER w AS DOUBLE) AS roll_sum
         |FROM hourly
         |WINDOW w AS (PARTITION BY event_type ORDER BY h
         |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
         |ORDER BY event_type, hour_us""".stripMargin,

    "q_gap_fill" ->
      s"""WITH hourly AS (
         |  SELECT user_id, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         |    ${dsumSql("value")} AS v
         |  FROM events GROUP BY 1, 2),
         |grid AS (
         |  SELECT user_id, unnest(generate_series(min(h), max(h),
         |    INTERVAL 1 HOUR)) AS h
         |  FROM hourly GROUP BY user_id),
         |f AS (
         |  SELECT g.user_id, g.h, hv.v,
         |    last_value(hv.v IGNORE NULLS) OVER (
         |      PARTITION BY g.user_id ORDER BY g.h
         |      ROWS UNBOUNDED PRECEDING) AS fv
         |  FROM grid g LEFT JOIN hourly hv
         |    ON g.user_id = hv.user_id AND g.h = hv.h)
         |SELECT user_id, count(*) AS n_hours,
         |  CAST(sum(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_observed,
         |  CAST(sum(CAST(fv AS DECIMAL(18,4))) AS DOUBLE) AS filled_sum
         |FROM f
         |GROUP BY 1
         |ORDER BY user_id""".stripMargin,

    "q_seasonal_profile" ->
      """WITH c AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM c),
        |grid AS (SELECT unnest(range(mn, mx + 1)) AS hr FROM b),
        |f AS (
        |  SELECT g.hr % 24 AS hod, COALESCE(c.c, 0) AS c
        |  FROM grid g LEFT JOIN c ON g.hr = c.hr),
        |m AS (
        |  SELECT hod, count(*) AS n_slots,
        |    CAST(sum(c) AS BIGINT) AS total_events,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM f GROUP BY hod)
        |SELECT hod, n_slots, total_events,
        |  round(total_events / (1.0 * n_slots), 6) AS seasonal_mean,
        |  round((ss - 1.0 * total_events * total_events / n_slots) /
        |    n_slots, 6) AS resid_var
        |FROM m
        |ORDER BY hod""".stripMargin,

    "q_transition_entropy" ->
      s"""WITH $ev2Sql,
         |tr AS (
         |  SELECT event_type AS src,
         |    lead(event_type) OVER (PARTITION BY user_id
         |      ORDER BY us, event_id) AS dst
         |  FROM ev2),
         |c AS (
         |  SELECT src, dst, CAST(count(*) AS BIGINT) AS nij
         |  FROM tr WHERE dst IS NOT NULL GROUP BY 1, 2),
         |m AS (
         |  SELECT src, CAST(sum(nij) AS BIGINT) AS n_total,
         |    count(*) AS n_dst,
         |    CAST(sum(CAST(round(nij * ln(nij), 9) AS DECIMAL(18,9)))
         |      AS DOUBLE) AS nlogn
         |  FROM c GROUP BY src)
         |SELECT src, n_total, n_dst,
         |  round(ln(CAST(n_total AS DOUBLE)) - nlogn / n_total, 6)
         |    AS entropy_nats
         |FROM m
         |ORDER BY src""".stripMargin,

    "q_hourly_anomaly" ->
      """WITH c AS (
        |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM c),
        |grid AS (SELECT unnest(range(mn, mx + 1)) AS hr FROM b),
        |f AS (
        |  SELECT g.hr, g.hr % 24 AS hod, COALESCE(c.c, 0) AS c
        |  FROM grid g LEFT JOIN c ON g.hr = c.hr),
        |m AS (
        |  SELECT hod, count(*) AS m, CAST(sum(c) AS BIGINT) AS tt,
        |    CAST(sum(c * c) AS BIGINT) AS ss
        |  FROM f GROUP BY hod)
        |SELECT f.hr, f.hod, f.c,
        |  round(tt / (1.0 * m.m), 6) AS expected
        |FROM f JOIN m ON f.hod = m.hod
        |WHERE (m.m * f.c - tt) * (m.m * f.c - tt) >
        |  9 * (m.m * ss - tt * tt)
        |ORDER BY f.hr""".stripMargin,

    "q_funnel_1h" ->
      """SELECT count(DISTINCT v.user_id) AS n_users,
        |  count(*) AS n_view_buy_pairs
        |FROM (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_view
        |      FROM events WHERE event_type = 'view') v
        |JOIN (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_buy
        |      FROM events WHERE event_type = 'purchase') b
        |  ON v.user_id = b.user_id
        | AND b.t_buy > v.t_view
        | AND b.t_buy - v.t_view <= 3600000000""".stripMargin,

    "q_zorder_stats" ->
      s"""WITH b AS (
         |  -- ((v % 16) + 16) % 16 mirrors Spark's pmod for negative
         |  -- values (DuckDB % keeps the dividend's sign)
         |  SELECT ((CAST(floor(value) AS INTEGER) % 16) + 16) % 16 AS x,
         |         hour(CAST(ts AS TIMESTAMP)) % 16 AS y, value
         |  FROM events),
         |z AS (
         |  SELECT value,
         |    ((x // 1) % 2) * 2   + ((y // 1) % 2) * 1 +
         |    ((x // 2) % 2) * 8   + ((y // 2) % 2) * 4 +
         |    ((x // 4) % 2) * 32  + ((y // 4) % 2) * 16 +
         |    ((x // 8) % 2) * 128 + ((y // 8) % 2) * 64 AS z
         |  FROM b)
         |SELECT CAST(z // 16 AS BIGINT) AS z_range, count(*) AS n,
         |  ${dsumSql("value")} AS sum_value
         |FROM z GROUP BY z_range
         |ORDER BY z_range""".stripMargin,

    "q_stream_topk" ->
      """SELECT event_type, rn AS rnk, event_id, value FROM (
        |  SELECT event_type, event_id, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY value DESC, event_id DESC) AS rn
        |  FROM events)
        |WHERE rn <= 3
        |ORDER BY event_type, rnk""".stripMargin,

    "q_stream_etl" ->
      s"""SELECT event_type, count(*) AS n,
         |  count(DISTINCT user_id) AS n_users,
         |  ${dsumSql("value")} AS sum_value
         |FROM events
         |WHERE event_type IN ('view', 'purchase')
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,

    "q_stream_mi" ->
      """SELECT event_type, round(mi, 6) AS mi FROM (
        |  SELECT event_type, sum((c / n) * ln((c * n) / (cx * cy))) AS mi
        |  FROM (
        |    SELECT event_type, c,
        |      sum(c) OVER (PARTITION BY event_type) AS n,
        |      sum(c) OVER (PARTITION BY event_type, x) AS cx,
        |      sum(c) OVER (PARTITION BY event_type, y) AS cy
        |    FROM (SELECT event_type, floor(value) AS x,
        |                 hour(CAST(ts AS TIMESTAMP)) AS y,
        |                 CAST(count(*) AS DOUBLE) AS c
        |          FROM events GROUP BY 1, 2, 3))
        |  GROUP BY event_type)
        |ORDER BY event_type""".stripMargin,

    "q_stream_join" ->
      s"""SELECT v.user_id, count(*) AS n_pairs,
         |  ${dsumSql("b.value")} AS buy_sum
         |FROM (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_v
         |      FROM events WHERE event_type = 'view') v
         |JOIN (SELECT user_id, value,
         |             epoch_us(CAST(ts AS TIMESTAMP)) AS t_b
         |      FROM events WHERE event_type = 'purchase') b
         |  ON v.user_id = b.user_id
         | AND b.t_b > v.t_v
         | AND b.t_b - v.t_v <= 3600000000
         |GROUP BY v.user_id
         |ORDER BY v.user_id""".stripMargin,

    // Expiry cutoff in exact integer micros: min of the two sides' max
    // event time − 7d (the watermark) − 1h (the match window) − 1s (the
    // guard band against Spark's ms-floored watermark bookkeeping).
    "q_stream_outer_join" ->
      s"""WITH v AS (
         |  SELECT user_id AS u, epoch_us(CAST(ts AS TIMESTAMP)) AS t_v
         |  FROM events WHERE event_type = 'view'),
         |b AS (
         |  SELECT user_id AS u_b, value,
         |    epoch_us(CAST(ts AS TIMESTAMP)) AS t_b
         |  FROM events WHERE event_type = 'purchase'),
         |wm AS (
         |  SELECT least((SELECT max(t_v) FROM v),
         |               (SELECT max(t_b) FROM b))
         |    - 604800000000 - 3600000000 - 1000000 AS cut),
         |m AS (
         |  SELECT u, value FROM v JOIN b
         |    ON u = u_b AND t_b > t_v AND t_b - t_v <= 3600000000),
         |um AS (
         |  SELECT v.u, v.t_v FROM v
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM b
         |    WHERE b.u_b = v.u AND b.t_b > v.t_v
         |      AND b.t_b - v.t_v <= 3600000000)),
         |r AS (
         |  SELECT u, 1 AS is_pair, value FROM m
         |  UNION ALL
         |  SELECT um.u, 0 AS is_pair, 0.0 AS value
         |  FROM um, wm WHERE um.t_v < wm.cut)
         |SELECT u AS user_id,
         |  CAST(sum(is_pair) AS BIGINT) AS n_pairs,
         |  CAST(sum(1 - is_pair) AS BIGINT) AS n_expired_views,
         |  ${dsumSql("value")} AS buy_sum
         |FROM r GROUP BY u ORDER BY u""".stripMargin,

    // The stream's integer EWMA recursion replayed as a RECURSIVE CTE
    // over the same hourly counts — (x + 3·ewma) // 4 truncating
    // division is the statistic, so both sides are bit-equal with no
    // FP anywhere.
    "q_stream_ewma" ->
      """WITH RECURSIVE hourly AS (
        |  SELECT event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hb,
        |    CAST(count(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |o AS (
        |  SELECT event_type, hb, x,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY hb) AS BIGINT) AS i
        |  FROM hourly),
        |r AS (
        |  SELECT event_type, i, hb, x, CAST(NULL AS BIGINT) AS prev,
        |    x AS ewma
        |  FROM o WHERE i = 1
        |  UNION ALL
        |  SELECT o.event_type, o.i, o.hb, o.x, r.ewma,
        |    (o.x + 3 * r.ewma) // 4
        |  FROM r JOIN o ON o.event_type = r.event_type
        |    AND o.i = r.i + 1)
        |SELECT event_type, count(*) AS n_hours,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND x > 2 * prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_bursts,
        |  min(CASE WHEN prev IS NOT NULL AND x > 2 * prev THEN hb END)
        |    AS first_burst_hb
        |FROM r GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    "q_stream_state_sessions" -> stateSessionsOracle,

    // Provider swap must be invisible to results: the RocksDB twin
    // answers to the byte-identical oracle.
    "q_stream_rocksdb_sessions" -> stateSessionsOracle,

    // ...and so must the API swap: fMGWS → transformWithState timers.
    "q_stream_tws_timers" -> stateSessionsOracle,

    "q_foreach_batch" ->
      s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS sum_value
         |FROM events
         |GROUP BY event_type
         |ORDER BY event_type""".stripMargin,

    "q_stream_tws_mink" ->
      """WITH v AS (
        |  SELECT user_id, CAST(floor(value * 100) AS BIGINT) AS vq,
        |    event_id
        |  FROM events),
        |c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM v GROUP BY 1),
        |r AS (
        |  SELECT user_id, vq, row_number() OVER (
        |    PARTITION BY user_id ORDER BY vq, event_id) AS rn
        |  FROM v),
        |m AS (
        |  SELECT user_id, CAST(sum(vq) AS BIGINT) AS min3_sum
        |  FROM r WHERE rn <= 3 GROUP BY 1)
        |SELECT c.user_id, c.n_events, m.min3_sum
        |FROM c JOIN m USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_stream_dedup_wm" ->
      """SELECT event_type, count(*) AS n
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // per-user corpus counts reconstructed from per-batch partials —
    // exact ONLY if the TTL evicted every key between batches (a failed
    // eviction double-counts sum(n) and flips resumed to TRUE).
    "q_stream_tws_ttl" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  FALSE AS resumed
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    // the HELD state at stream end: each user's last session, kept iff
    // its gap horizon is at or past the final watermark — the exact
    // relational complement of stateSessionsOracle's emit rule. The
    // v1 (fMGWS) and v2 (TWS named-variable) reader gates answer the
    // SAME oracle: held state is a property of the emission semantics,
    // not the state API.
    "q_tws_state_reader" -> openStateOracle,
    "q_state_reader" -> openStateOracle,

    // full-corpus counts for every user that streamed at least one odd
    // event — even-half counts are only reachable through the seeded
    // initial state, so equality proves the handoff.
    "q_stream_init_state" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events
        |WHERE user_id IN (SELECT DISTINCT user_id FROM events
        |                  WHERE event_id % 2 = 1)
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_stream_tws_profile" ->
      """SELECT user_id,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_stream_enrich" ->
      s"""SELECT c.c_mktsegment AS mktsegment, e.event_type,
         |  count(*) AS n, ${dsumSql("e.value")} AS sum_value
         |FROM events e
         |JOIN customer c ON e.user_id = c.c_custkey
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin,

    // The streaming path answers to the BATCH gate's oracle verbatim:
    // one SQL, two engines, two execution models.
    "q_stream_attribution" -> UserQueries.oracles("q_attribution"),
  )
}

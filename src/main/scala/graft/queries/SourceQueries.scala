package graft.queries

import graft.ops.Pin
import graft.queries.Q._
import graft.queries.StreamGate.withTempDir
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source/sink format and table-layout gates: the JSONL corpus format
  * (the lingua franca of LLM training data interchange) and hive-style
  * partitioned layout with partition pruning — the physical-layout
  * levers that decide how much of 100 TB a query actually reads.
  *
  * Both gates write a temporary copy of `documents`, read it back
  * through the alternate source, and aggregate; the oracle runs the
  * same aggregate on the ORIGINAL parquet — so a pass proves the full
  * write→read round trip was lossless, not just that the query ran.
  * Temp dirs are deleted in `finally` after the tiny aggregate is
  * pinned (the q_stream_etl pattern; nothing accumulates across runs).
  */
object SourceQueries {

  /** Lossless-CSV helpers shared by the gate and its spec: quoted empties
    * on write + an off-"" null token on read keep the empty-string / NULL
    * distinction CSV loses by default.
    *
    * The null token itself needs more than options: Spark's univocity
    * parser compares the token AFTER unquoting, so a text value literally
    * equal to \N reads back as NULL no matter how the writer quotes it.
    * The helpers therefore encode at the DataFrame level — on write, NULL
    * becomes \N and any value in the token's escape family (\N, \\N, …)
    * gains one leading backslash; on read, the parser nulls bare \N
    * (reachable only from an encoded NULL) and the decode strips one
    * backslash from the surviving family members.
    */
  private val NullTok = "\\N"
  private val TokFamily = "^\\\\+N$" // \N, \\N, \\\N, ...

  def csvWrite(df: DataFrame, path: String): Unit = {
    val enc = df.schema.fields.foldLeft(df) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        d.withColumn(f.name,
          when(col(f.name).isNull, lit(NullTok))
            .when(col(f.name).rlike(TokFamily),
              concat(lit("\\"), col(f.name)))
            .otherwise(col(f.name)))
      else d
    }
    enc.write.mode("overwrite")
      .option("header", "true").option("escape", "\"")
      .option("emptyValue", "\"\"")
      .csv(path)
  }

  def csvRead(s: SparkSession, schema: org.apache.spark.sql.types.StructType,
              path: String): DataFrame = {
    val raw = s.read.schema(schema)
      .option("header", "true").option("escape", "\"")
      .option("multiLine", "true")
      // With write-side encoding, bare \N is reachable ONLY from an
      // encoded NULL (the token family in real text gained a backslash),
      // so the parser token is unambiguous; non-string NULLs serialize as
      // bare empty fields, which the parser also nulls.
      .option("nullValue", NullTok)
      .csv(path)
    schema.fields.foldLeft(raw) { (d, f) =>
      if (f.dataType == org.apache.spark.sql.types.StringType)
        d.withColumn(f.name,
          when(col(f.name).rlike(TokFamily),
            expr(s"substring(${f.name}, 2)"))
            .otherwise(col(f.name)))
      else d
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // JSONL round trip: write documents as line-delimited JSON, read
    // back with the EXPLICIT original schema (never schema inference —
    // inference is a second full pass over 100 TB), and prove content
    // fidelity per source: row counts, exact char sums, and the number
    // of distinct text md5s all survive the format hop.
    "q_jsonl_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      withTempDir("graft_jsonl") { base =>
        docs.write.mode("overwrite").json(s"$base/out")
        Pin.pin(s.read.schema(docs.schema).json(s"$base/out")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count_distinct(md5(col("text"))).as("n_distinct_texts"))
          .orderBy("source"))
      }
    },

    // Hive-partitioned layout + partition pruning: write documents
    // partitioned by `lang`, then read ONLY lang='de'. The filter is a
    // partition filter — the scan lists one directory and touches no
    // other partition's files (PlanQualitySpec asserts the pruned scan
    // shape). This is the layout decision that turns "scan 100 TB,
    // filter to 2 TB" into "read 2 TB".
    "q_partitioned_scan" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      withTempDir("graft_part") { base =>
        docs.write.mode("overwrite").partitionBy("lang")
          .parquet(s"$base/out")
        Pin.pin(s.read.parquet(s"$base/out")
          .filter(col("lang") === "de")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("source"))
      }
    },

    // CSV round trip — the reference's own ingestion format (SURVEY §2
    // S1), previously exercised only through the CLI: write documents'
    // scalar columns as CSV (text included — quoting/escaping is the
    // hard part of the format), read back with the EXPLICIT schema
    // (never inference — a second full pass at 100 TB), and prove the
    // hop lossless per source with the q_jsonl_roundtrip fidelity
    // aggregate (counts, exact char sums, distinct text md5s).
    "q_csv_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      withTempDir("graft_csv") { base =>
        // csvWrite/csvRead carry the lossless option set (quoted
        // empties, off-"" null token, multiLine) — see their scaladoc;
        // a future testdata generation with empty texts or embedded
        // newlines still round trips hash-identically.
        csvWrite(docs, s"$base/out")
        Pin.pin(csvRead(s, docs.schema, s"$base/out")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count_distinct(md5(col("text"))).as("n_distinct_texts"))
          .orderBy("source"))
      }
    },

    // Table profiling — the first query anyone runs against an unknown
    // 100 TB table: per column, null count, exact distinct count, and
    // lexicographic min/max of the string form. ONE scan: all per-column
    // aggregates live in a single agg (Spark plans the multi-distinct
    // via Expand — columns× row replication, still one pass over the
    // files), then the 1-row result unpivots to a row per column via
    // stack(). Min/max compare the CAST on both engines so integer
    // columns profile identically ("10" < "9" lexicographically).
    "q_profile_table" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val cols = docs.schema.fieldNames.toSeq
      val aggs = cols.flatMap { c =>
        val sc = col(c).cast("string")
        Seq(sum(when(col(c).isNull, 1).otherwise(0)).cast("long")
          .as(s"nn_$c"),
          count_distinct(col(c)).as(s"nd_$c"),
          min(sc).as(s"mn_$c"), max(sc).as(s"mx_$c"))
      }
      val one = docs.agg(count(lit(1)).as("n_rows"), aggs: _*)
      val stackExpr = cols.map { c =>
        s"'$c', nn_$c, nd_$c, mn_$c, mx_$c"
      }.mkString(s"stack(${cols.size}, ", ", ",
        ") as (col_name, n_null, n_distinct, min_str, max_str)")
      one.select(col("n_rows"), expr(stackExpr))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_str"), col("max_str"))
        .orderBy("col_name")
    },

    // Data-contract audit — the dbt-test/Great-Expectations staple: a
    // rule catalog evaluated as ONE conditional-sum aggregate per table
    // (plus one distinct aggregate for the uniqueness rule), one scan
    // each, no joins. Emits per rule the checked and violating row
    // counts — the evidence a pipeline gate publishes before promoting
    // a 100 TB batch. Integer counts only; a violation appearing in a
    // regenerated batch flips the hash, which is the alert.
    "q_contract_audit" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      val dAgg = docs.agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") =!= length(col("text")), 1).otherwise(0))
          .cast("long").as("v_len"),
        (count(lit(1)) - count_distinct(col("doc_id"))).as("v_uniq"),
        sum(when(col("lang").isNull || col("lang") === "", 1).otherwise(0))
          .cast("long").as("v_lang"))
      val dRules = dAgg.select(expr(
        "stack(3, " +
          "'documents', 'n_chars_eq_len', n, v_len, " +
          "'documents', 'doc_id_unique', n, v_uniq, " +
          "'documents', 'lang_nonnull', n, v_lang) " +
          "AS (table_name, rule_name, n_checked, n_violations)"))
      val lAgg = t(s, dir, "lineitem").agg(count(lit(1)).as("n"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1)
          .otherwise(0)).cast("long").as("v_disc"),
        sum(when(col("l_quantity") <= 0, 1).otherwise(0)).cast("long")
          .as("v_qty"))
      val lRules = lAgg.select(expr(
        "stack(2, " +
          "'lineitem', 'discount_in_unit_range', n, v_disc, " +
          "'lineitem', 'quantity_positive', n, v_qty) " +
          "AS (table_name, rule_name, n_checked, n_violations)"))
      val oAgg = t(s, dir, "orders").agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).cast("long")
          .as("v_tp"))
      val oRules = oAgg.select(expr(
        "stack(1, 'orders', 'totalprice_positive', n, v_tp) " +
          "AS (table_name, rule_name, n_checked, n_violations)"))
      dRules.unionByName(lRules).unionByName(oRules)
        .orderBy("table_name", "rule_name")
    },

    // Order-independent table fingerprint — the cheap way to prove two
    // copies of a 100 TB table identical without sorting either: each
    // row serializes (unit separator chr(31), null marker chr(30)),
    // hashes, and the SUM of row hashes — exact, associative,
    // partition-order-free — plus the row count is the table's content
    // fingerprint. The hash is carried as TWO independent small-width
    // integers (md5 hex digits 1-7 = 28 bits, digits 8-15 = 32 bits):
    // every sum stays far inside BIGINT at any gate scale, so neither
    // engine ever routes through a wide-decimal intermediate whose
    // canonicalization could differ across builds. Emitted per source
    // so a mismatch localizes. One scan, one aggregate; compare
    // fingerprints across replicas/engines/migrations byte-for-byte.
    "q_table_fingerprint" -> { (s, dir) =>
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      val ser = cols.map(c =>
          coalesce(col(c).cast("string"), lit("\u001e")))
        .reduce((a, b) => concat(a, lit("\u001f"), b))
      t(s, dir, "documents")
        .select(col("source"), md5(ser).as("m"))
        .select(col("source"),
          conv(substring(col("m"), 1, 7), 16, 10).cast("long").as("h1"),
          conv(substring(col("m"), 8, 8), 16, 10).cast("long").as("h2"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("h1")).cast("long").as("fp_hi"),
          sum(col("h2")).cast("long").as("fp_lo"))
        .orderBy("source")
    },

    // Deterministic collection aggregates — collect_set/collect_list
    // surface with a DETERMINISM contract: raw collect_* output order is
    // partition-dependent, so the gate pins it with array_sort before
    // anything reads it (the only safe way to emit a collected column
    // from a distributed engine). Per source: the sorted distinct lang
    // set as one delimited string, its size, and the md5 of the string
    // (proving byte-stable serialization end to end). Group state is
    // bounded by |langs| per source — scale-safe.
    "q_sorted_collect" -> { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("source")
        .agg(array_join(array_sort(collect_set(col("lang"))), ",")
          .as("langs"))
        .select(col("source"), col("langs"),
          size(split(col("langs"), ",")).cast("long").as("n_langs"),
          md5(col("langs")).as("langs_md5"))
        .orderBy("source")
    },

    // ORC round trip — the other columnar lake format (a migration
    // target/source in mixed Hive estates). Same fidelity contract as
    // q_jsonl_roundtrip: write documents as ORC, read back with the
    // explicit schema, prove counts / exact char sums / distinct text
    // md5s survive per source. ORC is a first-class Spark source:
    // predicate pushdown and column pruning work the same as parquet.
    // XML round trip over Spark 4's NATIVE xml source (spark-xml moved
    // into core) — the format mixed estates still exchange with legacy
    // systems. Free text can contain XML-illegal control characters, so
    // the document CONTENT travels as its md5 hex (XML-safe by
    // construction) next to the raw scalar columns; the fidelity
    // aggregate proves ids, langs, char counts and the content
    // fingerprints all survive the hop per source.
    "q_xml_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("text_md5"))
      withTempDir("graft_xml") { base =>
        docs.write.mode("overwrite").format("xml")
          .option("rootTag", "docs").option("rowTag", "doc")
          .save(s"$base/out")
        Pin.pin(s.read.format("xml").option("rowTag", "doc")
          .schema(docs.schema).load(s"$base/out")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count_distinct(col("text_md5")).as("n_distinct_texts"))
          .orderBy("source"))
      }
    },

    // Raw-bytes ingestion via the binaryFile source — the path every
    // multimodal corpus takes into the lake (images/audio land as
    // files, not rows). A bounded doc sample is written one FILE per
    // doc (the real layout), read back through binaryFile, and the
    // aggregate proves count, total bytes, and distinct content
    // fingerprints survive — i.e. the file hop is lossless and nothing
    // was dropped or merged. Sample bounded (doc_id % 100 == 0) because
    // file-per-row is exactly the small-files antipattern the
    // compaction gate exists to fix; at scale this source reads
    // pre-bundled media directories instead.
    // Custom DataSource V2 connector end-to-end (graft.sources
    // .SynthSource): the scan ABSORBS the id-range predicates
    // (SupportsPushDownFilters → rows outside [5e5, 1.5e6) are never
    // generated, the post-scan Filter node is gone) and materializes
    // only the projected columns (SupportsPushDownRequiredColumns) —
    // both observable in .explain and pinned by CustomSourceSpec; this
    // gate pins the VALUES. The oracle regenerates the identical table
    // from range() — the row function is pure integer arithmetic
    // (Knuth hash mod 1000003; products ≤ 2.7e15 ≪ 2^63), so both
    // engines agree bit-for-bit with no floats anywhere. `dir` is
    // unused: the table IS the connector.
    "q_custom_source" -> { (s, dir) =>
      s.read.format("graft-synth")
        .option("n", "2000000").option("parts", "8").load()
        .filter(col("id") >= 500000L && col("id") < 1500000L)
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("v_int")).cast("long").as("sum_v"),
          min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
        .orderBy("bucket")
    },

    // DSv2 WRITE path (graft.sources.MemTableSource) — the
    // transactional commit protocol end-to-end: per-partition
    // DataWriters buffer rows, emit them as WriterCommitMessages, and
    // the driver's single commit() publishes the union ATOMICALLY
    // (mode("overwrite") exercises SupportsTruncate = replace-on-
    // commit). The gate writes the per-source aggregate through the
    // connector, reads it back through the same connector's READ path,
    // and the oracle recomputes from the raw table — a pass proves the
    // write→commit→read loop lossless. This is the protocol shape
    // (not the storage) of every real exactly-once sink.
    "q_dsv2_write" -> { (s, dir) =>
      val agg = t(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
      agg.write.format("graft-mem").option("table", "dsv2w_gate")
        .mode("overwrite").save()
      s.read.format("graft-mem").option("table", "dsv2w_gate").load()
        .orderBy("source")
    },

    "q_binary_ingest" -> { (s, dir) =>
      import s.implicits._
      val sample = t(s, dir, "documents")
        .filter(col("doc_id") % 100 === 0)
        .select(col("doc_id"), col("text"))
      withTempDir("graft_bin") { base =>
        val dirPath = s"$base/files"
        new java.io.File(dirPath).mkdirs()
        sample.as[(Long, String)].collect().foreach { case (id, text) =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dirPath, s"doc_$id.bin"),
            Option(text).getOrElse("").getBytes("UTF-8"))
        }
        Pin.pin(s.read.format("binaryFile").load(dirPath)
          .agg(count(lit(1)).as("n_files"),
            sum(col("length")).cast("long").as("total_bytes"),
            count_distinct(md5(col("content"))).as("n_distinct"))
          .select(col("n_files"), col("total_bytes"), col("n_distinct")))
      }
    },

    "q_orc_roundtrip" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      withTempDir("graft_orc") { base =>
        docs.write.mode("overwrite").orc(s"$base/out")
        Pin.pin(s.read.schema(docs.schema).orc(s"$base/out")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count_distinct(md5(col("text"))).as("n_distinct_texts"))
          .orderBy("source"))
      }
    },

    // Small-files compaction — the lake-maintenance pass that turns a
    // streaming sink's thousands of kilobyte files back into scan-sized
    // ones (a 100 TB table of 1 MB files spends more time in listing +
    // task scheduling than in reading). The gate writes the table at an
    // exaggerated 32-way split, compacts with a single repartition(4)
    // (shuffle — even output sizes, unlike coalesce's partition-glueing
    // which inherits skew), and proves the rewrite lossless per source;
    // the emitted file counts pin the layout contract itself (32-way
    // write → exactly 32 data files, repartition(4) → exactly 4).
    "q_compaction" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      def dataFiles(p: String): Long =
        new java.io.File(p).listFiles()
          .count(f => f.getName.endsWith(".parquet"))
      withTempDir("graft_compact") { base =>
        docs.repartition(32).write.mode("overwrite")
          .parquet(s"$base/small")
        val nPre = dataFiles(s"$base/small")
        s.read.parquet(s"$base/small").repartition(4)
          .write.mode("overwrite").parquet(s"$base/compact")
        val nPost = dataFiles(s"$base/compact")
        Pin.pin(s.read.parquet(s"$base/compact")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            count_distinct(md5(col("text"))).as("n_distinct_texts"))
          .withColumn("files_pre", lit(nPre))
          .withColumn("files_post", lit(nPost))
          .orderBy("source"))
      }
    },

    // Schema evolution under mergeSchema: half the corpus (even doc_ids)
    // is written WITHOUT the `lang` column — the "old producer" files of
    // a real lake — the other half with it; a mergeSchema read must
    // union the schemas and surface the missing column as NULL, never
    // drop rows or bytes. The gate aggregates the merged read per
    // source; the oracle derives the same numbers from the ORIGINAL
    // table (lang is null exactly where doc_id is even), so a pass
    // proves both the evolution semantics and losslessness. At 100 TB
    // mergeSchema costs one footer read per file at planning — the
    // scan itself is unchanged.
    "q_schema_evolution" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      withTempDir("graft_schevo") { base =>
        docs.filter(col("doc_id") % 2 === 0).drop("lang")
          .write.mode("overwrite").parquet(s"$base/v1")
        docs.filter(col("doc_id") % 2 =!= 0)
          .write.mode("overwrite").parquet(s"$base/v2")
        Pin.pin(s.read.option("mergeSchema", "true")
          .parquet(s"$base/v1", s"$base/v2")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("lang").isNull, 1).otherwise(0)).cast("long")
              .as("n_no_lang"),
            sum(col("n_chars")).cast("long").as("sum_chars"))
          .orderBy("source"))
      }
    },

    // Dynamic partition overwrite — the daily-reprocess idiom of a
    // partitioned lake: a corrected batch for ONE partition must
    // replace exactly that partition and leave every other byte
    // untouched (static overwrite mode would wipe the whole table —
    // the classic production data-loss bug this gate guards against).
    // The table is written partitioned by lang; the incoming batch is
    // lang='de' only, halved (even doc_id) and uppercased, written with
    // partitionOverwriteMode=dynamic; the read-back aggregate can only
    // match the oracle if the de partition was REPLACED (not appended)
    // and the other four partitions survived. At 100 TB this is a
    // metadata-scoped commit: only the incoming partitions' files are
    // rewritten.
    "q_dynamic_overwrite" -> { (s, dir) =>
      val docs = t(s, dir, "documents")
      withTempDir("graft_dynover") { base =>
        docs.write.mode("overwrite").partitionBy("lang")
          .parquet(s"$base/tbl")
        val batch = docs.filter(col("lang") === "de" &&
            col("doc_id") % 2 === 0)
          .withColumn("text", upper(col("text")))
        val prev = s.conf
          .getOption("spark.sql.sources.partitionOverwriteMode")
        s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try batch.write.mode("overwrite").partitionBy("lang")
          .parquet(s"$base/tbl")
        finally prev match {
          case Some(v) => s.conf
            .set("spark.sql.sources.partitionOverwriteMode", v)
          case None => s.conf
            .unset("spark.sql.sources.partitionOverwriteMode")
        }
        Pin.pin(s.read.parquet(s"$base/tbl")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(when(!col("text").rlike("[a-z]"), 1).otherwise(0))
              .cast("long").as("n_no_lower"))
          .orderBy("lang"))
      }
    },

    // Spark 4.1 GEOMETRY — the new geospatial type surface, end to end
    // over its ENTIRE available function set (st_geomfromwkb /
    // st_setsrid / st_srid / st_asbinary; measurement/predicate
    // functions don't exist yet in 4.1): each event becomes a WKB point
    // whose hex both engines CONSTRUCT from pure integer IEEE-754
    // arithmetic (no spatial code in the oracle); Spark ingests it into
    // a real GEOMETRY value, stamps SRID 4326, and must read back the
    // byte-identical WKB with the pinned SRID. A drift in either the
    // type's binary round-trip or the hex construction is a hash
    // mismatch. GEOMETRY never crosses the output schema (binary→hex at
    // the edge), keeping the driver's type whitelist intact.
    "q_geo_wkb" -> { (s, dir) =>
      events(s, dir).createOrReplaceTempView("g_events_geo")
      // the type ships feature-flagged in 4.1; enable for this plan's
      // analysis AND execution (the Pin materializes inside the window),
      // restore after
      val key = "spark.sql.geospatial.enabled"
      val old = s.conf.getOption(key)
      s.conf.set(key, "true")
      try Pin.pin(s.sql(
        s"""WITH pts AS (
           |  SELECT event_type,
           |    CAST(1 + user_id % 89 AS BIGINT) AS x,
           |    CAST(1 + event_id % 44 AS BIGINT) AS y
           |  FROM g_events_geo),
           |hx AS (
           |  SELECT event_type, ${ieeeHexSpark("x")} AS hxx,
           |    ${ieeeHexSpark("y")} AS hyy
           |  FROM pts),
           |wkb AS (
           |  SELECT event_type,
           |    concat('0101000000', ${leHex("hxx")}, ${leHex("hyy")})
           |      AS wkb_hex
           |  FROM hx),
           |geo AS (
           |  SELECT event_type, wkb_hex,
           |    st_setsrid(st_geomfromwkb(unhex(wkb_hex)), 4326) AS g
           |  FROM wkb)
           |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |  CAST(min(st_srid(g)) AS BIGINT) AS srid_min,
           |  CAST(max(st_srid(g)) AS BIGINT) AS srid_max,
           |  every(upper(hex(st_asbinary(g))) = wkb_hex) AS wkb_ok,
           |  min(wkb_hex) AS wkb_min, max(wkb_hex) AS wkb_max
           |FROM geo GROUP BY event_type
           |ORDER BY event_type""".stripMargin))
      finally old match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
    })

  // ------------------------------------------------------------- geo WKB

  /** IEEE-754 bit pattern of an integer-valued POSITIVE bigint column as
    * 16-char big-endian hex, from pure integer arithmetic — per engine
    * (Spark spells shifts as functions, DuckDB as operators). This is
    * what lets the DuckDB oracle construct byte-exact WKB without any
    * spatial extension: exponent = 1023 + ⌊log2 x⌋, mantissa = the
    * shifted value minus the implicit leading bit.
    */
  private def ieeeHexSpark(x: String): String =
    s"upper(lpad(hex(shiftleft(1023 + CAST(floor(log2($x)) AS BIGINT), 52)" +
      s" + shiftleft(CAST($x AS BIGINT)," +
      s" CAST(52 - CAST(floor(log2($x)) AS BIGINT) AS INT))" +
      s" - shiftleft(CAST(1 AS BIGINT), 52)), 16, '0'))"
  private def ieeeHexDuck(x: String): String =
    s"upper(lpad(to_hex(((1023 + CAST(floor(log2($x)) AS BIGINT)) << 52)" +
      s" + (CAST($x AS BIGINT) <<" +
      s" CAST(52 - CAST(floor(log2($x)) AS BIGINT) AS INT))" +
      s" - (CAST(1 AS BIGINT) << 52)), 16, '0'))"

  /** Byte-reverse a 16-hex-char column: big-endian → WKB's little-endian. */
  private def leHex(h: String): String =
    (7 to 0 by -1).map(i => s"substr($h, ${2 * i + 1}, 2)")
      .mkString("concat(", ", ", ")")

  val oracles: Map[String, String] = Map(
    // Both engines CONSTRUCT the point WKB hex from the same integer
    // arithmetic; Spark additionally pushes it through the real
    // geospatial surface and must land back on the identical bytes with
    // the pinned SRID.
    "q_geo_wkb" -> {
      s"""WITH pts AS (
         |  SELECT event_type,
         |    CAST(1 + user_id % 89 AS BIGINT) AS x,
         |    CAST(1 + event_id % 44 AS BIGINT) AS y
         |  FROM events),
         |hx AS (
         |  SELECT event_type, ${ieeeHexDuck("x")} AS hxx,
         |    ${ieeeHexDuck("y")} AS hyy
         |  FROM pts),
         |wkb AS (
         |  SELECT event_type,
         |    concat('0101000000', ${leHex("hxx")}, ${leHex("hyy")})
         |      AS wkb_hex
         |  FROM hx)
         |SELECT event_type, count(*) AS n,
         |  CAST(4326 AS BIGINT) AS srid_min,
         |  CAST(4326 AS BIGINT) AS srid_max,
         |  TRUE AS wkb_ok,
         |  min(wkb_hex) AS wkb_min, max(wkb_hex) AS wkb_max
         |FROM wkb GROUP BY event_type
         |ORDER BY event_type""".stripMargin
    },

    // Expected state derived from the ORIGINAL table: de halved and
    // uppercased, everything else untouched — matches only if the
    // dynamic overwrite replaced exactly the de partition.
    "q_dynamic_overwrite" ->
      """WITH eff AS (
        |  SELECT CASE WHEN lang = 'de' THEN upper(text) ELSE text END
        |      AS text, lang, n_chars
        |  FROM documents
        |  WHERE lang <> 'de' OR doc_id % 2 = 0)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(CASE WHEN NOT regexp_matches(text, '[a-z]')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_no_lower
        |FROM eff GROUP BY lang ORDER BY lang""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_texts
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_partitioned_scan" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |WHERE lang = 'de'
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_texts
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_profile_table" ->
      Seq("doc_id", "text", "lang", "source", "n_chars").map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  count(*) - count($c) AS n_null,
           |  count(DISTINCT $c) AS n_distinct,
           |  min(CAST($c AS VARCHAR)) AS min_str,
           |  max(CAST($c AS VARCHAR)) AS max_str
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    "q_contract_audit" ->
      """WITH d AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_len,
        |    count(*) - count(DISTINCT doc_id) AS v_uniq,
        |    CAST(sum(CASE WHEN lang IS NULL OR lang = '' THEN 1 ELSE 0
        |      END) AS BIGINT) AS v_lang
        |  FROM documents),
        |l AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1
        |      ELSE 0 END) AS BIGINT) AS v_disc,
        |    CAST(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_qty
        |  FROM lineitem),
        |o AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_tp
        |  FROM orders),
        |u AS (
        |  SELECT 'documents' AS table_name, 'n_chars_eq_len' AS rule_name,
        |    n AS n_checked, v_len AS n_violations FROM d
        |  UNION ALL SELECT 'documents', 'doc_id_unique', n, v_uniq FROM d
        |  UNION ALL SELECT 'documents', 'lang_nonnull', n, v_lang FROM d
        |  UNION ALL SELECT 'lineitem', 'discount_in_unit_range', n,
        |    v_disc FROM l
        |  UNION ALL SELECT 'lineitem', 'quantity_positive', n, v_qty
        |    FROM l
        |  UNION ALL SELECT 'orders', 'totalprice_positive', n, v_tp
        |    FROM o)
        |SELECT * FROM u ORDER BY table_name, rule_name""".stripMargin,

    // Identical serialization (chr(31) separators, chr(30) nulls); two
    // independent small-width hash halves (hex digits 1-7 and 8-15)
    // summed as plain BIGINTs — no wide-decimal intermediate whose
    // canonicalization could vary across builds.
    "q_table_fingerprint" ->
      """WITH h AS (SELECT source, md5(
        |    COALESCE(CAST(doc_id AS VARCHAR), chr(30)) || chr(31) ||
        |    COALESCE(text, chr(30)) || chr(31) ||
        |    COALESCE(lang, chr(30)) || chr(31) ||
        |    COALESCE(source, chr(30)) || chr(31) ||
        |    COALESCE(CAST(n_chars AS VARCHAR), chr(30))) AS m
        |  FROM documents)
        |SELECT source, count(*) AS n_rows,
        |  CAST(sum(CAST(('0x' || substr(m, 1, 7)) AS BIGINT))
        |    AS BIGINT) AS fp_hi,
        |  CAST(sum(CAST(('0x' || substr(m, 8, 8)) AS BIGINT))
        |    AS BIGINT) AS fp_lo
        |FROM h
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "q_sorted_collect" ->
      """WITH l AS (
        |  SELECT source,
        |    string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
        |  FROM documents GROUP BY source)
        |SELECT source, langs,
        |  CAST(len(string_split(langs, ',')) AS BIGINT) AS n_langs,
        |  md5(langs) AS langs_md5
        |FROM l
        |ORDER BY source""".stripMargin,

    "q_xml_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_texts
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Recomputed from the raw table — the engine's rows took the
    // write→commit→read trip through the connector.
    "q_dsv2_write" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // The connector's row function regenerated from range() — pure
    // integer arithmetic on both sides.
    "q_custom_source" ->
      """SELECT range % 100 AS bucket,
        |  count(*) AS n_rows,
        |  CAST(sum(((range % 1000003) * 2654435761) % 1000003)
        |    AS BIGINT) AS sum_v,
        |  min(range) AS min_id,
        |  max(range) AS max_id
        |FROM range(500000, 1500000)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,

    "q_binary_ingest" ->
      """SELECT count(*) AS n_files,
        |  CAST(sum(octet_length(CAST(COALESCE(text, '') AS BLOB)))
        |    AS BIGINT) AS total_bytes,
        |  count(DISTINCT md5(COALESCE(text, ''))) AS n_distinct
        |FROM documents
        |WHERE doc_id % 100 = 0""".stripMargin,

    // Same fidelity aggregate as the JSONL/CSV round trips, against the
    // ORIGINAL table — a pass proves the ORC hop lossless.
    "q_orc_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_texts
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // Content columns from the original table; the file counts are the
    // layout contract (32-way write, 4-way compaction) — constants BY
    // DESIGN, so the oracle pins them as literals.
    "q_compaction" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  count(DISTINCT md5(text)) AS n_distinct_texts,
        |  CAST(32 AS BIGINT) AS files_pre,
        |  CAST(4 AS BIGINT) AS files_post
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    // The merged read's numbers, derived from the original table: lang
    // is missing exactly where doc_id is even.
    "q_schema_evolution" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_no_lang,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin)
}

package graft.ops

import graft.SparkTestBase
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** The persisted-index contract (r11 verdict #5):
  *
  *   1. dedupNewBatch against the LOADED index equals the recompute-
  *      from-scratch cross pairs exactly (ids AND distances);
  *   2. the query side never touches the corpus text — proven the
  *      strongest way available: the corpus parquet is DELETED between
  *      buildAndSave and dedupNewBatch, and the answer is unchanged;
  *   3. the load is deterministic: two independent query runs against
  *      the same index agree.
  */
class DedupIndexSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  behavior of "DedupIndex (persisted MinHash index)"

  /** `body` on a fresh graft_dedup_idx_`name` dir, deleted after it,
    * checked to leave no graft_* entry behind.
    */
  private def withIndexDir[A](name: String)(body: String => A): A =
    leavesNoGraftTemp(
      graft.queries.StreamGate.withTempDir(s"graft_dedup_idx_$name")(body))

  private def docsDf(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  it should "dedup a new batch against the loaded index without the " +
    "corpus text, matching the fresh recompute" in {
    val s = spark
    withIndexDir("spec") { base =>
      // corpus: two near-dup families + noise; batch: one member of each
      // family (near-dup across the split) + one novel doc
      val corpus = Seq(
        1L -> "the quick brown fox jumps over the lazy dog again today",
        2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
        3L -> "entirely different content about distributed query engines",
        4L -> "spark catalyst optimizer rewrites logical plans into physical",
        5L -> "a b c d e f g h i j k l m n o p")
      val batch = Seq(
        100L -> "the quick brown fox jumps over the lazy dog again today",
        101L -> "spark catalyst optimizer rewrites logical plans into action",
        102L -> "nothing remotely similar lives in this novel document text")

      // write corpus to parquet so it can be DELETED after the build
      docsDf(corpus).write.mode("overwrite").parquet(s"$base/corpus")
      val corpusFromDisk = s.read.parquet(s"$base/corpus")
      DedupIndex.buildAndSave(corpusFromDisk, "doc_id", "text",
        s"$base/idx")

      // fresh recompute BEFORE the deletion (it needs the corpus)
      val fresh = DedupIndex.crossPairsFresh(corpusFromDisk,
          docsDf(batch), "doc_id", "text", maxDistance = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq

      // delete the corpus: the loaded-index query must not notice
      org.apache.commons.io.FileUtils
        .deleteDirectory(new java.io.File(s"$base/corpus"))

      def queryOnce() = DedupIndex.dedupNewBatch(s, docsDf(batch),
          "doc_id", "text", s"$base/idx", maxDistance = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq

      val viaIndex = queryOnce()
      viaIndex shouldBe fresh
      viaIndex shouldBe queryOnce() // deterministic load
      // the cross-split near-dups were actually found
      viaIndex.map(t => (t._1, t._2)) should contain allOf(
        (100L, 1L), (101L, 4L))
      // exact duplicate across the split has distance 0
      viaIndex.find(t => t._1 == 100L && t._2 == 1L).get._3 shouldBe 0.0
      // the novel doc matched nothing
      viaIndex.map(_._1) should not contain 102L
    }
  }

  it should "fold an appended batch into the index so later queries " +
    "see it — equal to an index built on the union" in {
    val s = spark
    withIndexDir("append") { base =>
      val corpusA = Seq(
        1L -> "the quick brown fox jumps over the lazy dog again today",
        2L -> "entirely different content about distributed query engines")
      val corpusB = Seq( // tonight's ingest, folded in after its dedup pass
        3L -> "spark catalyst optimizer rewrites logical plans into physical")
      val probe = Seq(
        100L -> "the quick brown fox jumps over the lazy dog again today",
        101L -> "spark catalyst optimizer rewrites logical plans into action")

      DedupIndex.buildAndSave(docsDf(corpusA), "doc_id", "text",
        s"$base/inc")
      DedupIndex.appendToIndex(s, docsDf(corpusB), "doc_id", "text",
        s"$base/inc")
      DedupIndex.buildAndSave(docsDf(corpusA ++ corpusB), "doc_id", "text",
        s"$base/union")

      def pairs(path: String) = DedupIndex.dedupNewBatch(s, docsDf(probe),
          "doc_id", "text", path, maxDistance = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq

      val incremental = pairs(s"$base/inc")
      incremental shouldBe pairs(s"$base/union")
      // the appended doc is findable (101 near-dups 3, which only exists
      // in the appended half)
      incremental.map(t => (t._1, t._2)) should contain allOf(
        (100L, 1L), (101L, 3L))
    }
  }

  it should "share one signed batch between query and append without " +
    "changing either answer" in {
    // r13 optimization: loadModel + signBatch let an ingest cycle sign a
    // batch ONCE and feed both the dedup query (dedupSignedBatch) and
    // the index append (appendSigned). Contract: pure equality with the
    // per-step entry points.
    val s = spark
    withIndexDir("signed") { base =>
      val corpus = Seq(
        1L -> "the quick brown fox jumps over the lazy dog again today",
        2L -> "entirely different content about distributed query engines")
      val batch = Seq(
        100L -> "the quick brown fox jumps over the lazy dog again today",
        101L -> "nothing remotely similar lives in this novel document text")
      DedupIndex.buildAndSave(docsDf(corpus), "doc_id", "text", s"$base/a")
      DedupIndex.buildAndSave(docsDf(corpus), "doc_id", "text", s"$base/b")
      val (cfg, model) = DedupIndex.loadModel(s, s"$base/a")
      val signed = DedupIndex
        .signBatch(docsDf(batch), "doc_id", "text", cfg, model)
        .localCheckpoint(true)
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      // query via the pre-signed path ≡ the self-loading path
      rows(DedupIndex.dedupSignedBatch(s, signed, s"$base/a", 0.5)) shouldBe
        rows(DedupIndex.dedupNewBatch(s, docsDf(batch), "doc_id", "text",
          s"$base/b", 0.5))
      // append via the pre-signed path ≡ the self-signing path: later
      // probes against both indexes answer identically
      DedupIndex.appendSigned(signed, s"$base/a")
      DedupIndex.appendToIndex(s, docsDf(batch), "doc_id", "text",
        s"$base/b")
      val probe = Seq(
        200L -> "nothing remotely similar lives in this novel document line")
      rows(DedupIndex.dedupNewBatch(s, docsDf(probe), "doc_id", "text",
        s"$base/a", 0.5)) shouldBe
        rows(DedupIndex.dedupNewBatch(s, docsDf(probe), "doc_id", "text",
          s"$base/b", 0.5))
    }
  }

  it should "answer identically to a fresh build on the surviving " +
    "corpus after build + append + delete + compact" in {
    // r12 verdict #4 — the full nightly maintenance cycle. MinHashLSH's
    // fit is seed-deterministic and data-independent, so the maintained
    // index's band/idx rows for survivors must equal a from-scratch
    // build's, making full answer equality the right contract.
    val s = spark
    withIndexDir("maint") { base =>
      val corpusA = Seq(
        1L -> "the quick brown fox jumps over the lazy dog again today",
        2L -> "the quick brown fox jumps over the lazy dog again tomorrow",
        3L -> "entirely different content about distributed query engines")
      val corpusB = Seq(
        4L -> "spark catalyst optimizer rewrites logical plans into physical",
        5L -> "a b c d e f g h i j k l m n o p")
      val probe = Seq(
        100L -> "the quick brown fox jumps over the lazy dog again today",
        101L -> "spark catalyst optimizer rewrites logical plans into action")

      DedupIndex.buildAndSave(docsDf(corpusA), "doc_id", "text", s"$base/m")
      DedupIndex.appendToIndex(s, docsDf(corpusB), "doc_id", "text",
        s"$base/m")
      // delete doc 1 (the probe's exact dup) and doc 5 (noise)
      DedupIndex.deleteFromIndex(s, docsDf(Seq(
        1L -> "", 5L -> "")).select("doc_id"), "doc_id", s"$base/m")

      def pairs(path: String) = DedupIndex.dedupNewBatch(s, docsDf(probe),
          "doc_id", "text", path, maxDistance = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2)).toSeq

      // tombstones take effect immediately (before any compaction)
      val preCompact = pairs(s"$base/m")
      preCompact.map(_._2) should not contain 1L
      // 100 still matches the SURVIVING family member 2
      preCompact.map(t => (t._1, t._2)) should contain allOf(
        (100L, 2L), (101L, 4L))

      val (kept, dead) = DedupIndex.compactIndex(s, s"$base/m")
      kept shouldBe 3L
      dead shouldBe 2L
      val postCompact = pairs(s"$base/m")
      postCompact shouldBe preCompact

      // ground truth: a fresh build on exactly the surviving corpus
      DedupIndex.buildAndSave(
        docsDf((corpusA ++ corpusB).filterNot(d => Set(1L, 5L)(d._1))),
        "doc_id", "text", s"$base/fresh")
      postCompact shouldBe pairs(s"$base/fresh")

      // compaction physically reclaimed the dead ids from both artifacts
      import org.apache.spark.sql.functions.col
      s.read.parquet(s"$base/m/idx").filter(col("id").isin(1L, 5L))
        .count() shouldBe 0L
      s.read.parquet(s"$base/m/bands").filter(col("id").isin(1L, 5L))
        .count() shouldBe 0L
    }
  }

  it should "persist and reload the shingle/hash config" in {
    val s = spark
    withIndexDir("cfg") { base =>
      val cfg = DedupIndex.MinHashConfig(n = 2, numHashTables = 6,
        seed = 7L, numFeatures = 1 << 12)
      DedupIndex.buildAndSave(
        docsDf(Seq(1L -> "alpha beta gamma delta epsilon")),
        "doc_id", "text", s"$base/idx", cfg)
      DedupIndex.loadConfig(s, s"$base/idx") shouldBe cfg
    }
  }
}

package graft.examples

import graft.Sessions
import graft.ops.{Dedup, TextAnalysis}
import graft.queries.Q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end corpus curation — the composed-library story in one
  * program: the operator families the registry gates individually,
  * chained the way a training-data team actually runs them, documents
  * in → curated, deduplicated, quality-filtered, shard-assigned corpus
  * out.
  *
  * {{{
  *   runMain graft.examples.CuratePipeline <sfDir> [outDir]
  * }}}
  *
  * Stages (each one a library call, not bespoke logic):
  *  1. '''Exact dedup''' — [[Dedup.exactDupClasses]] keeps the min-id
  *     survivor of each md5 class.
  *  2. '''Near-dedup''' — [[Dedup.minHashPairs]] candidates (verified
  *     Jaccard ≥ 0.8) → [[Dedup.dupClusters]] connected components →
  *     survivors again by min id.
  *  3. '''Quality filter''' — [[TextAnalysis.qualityScore]] plus a
  *     PII scrub ([[TextAnalysis.redactPii]]); drop the bottom band.
  *  4. '''Shard assignment''' — deterministic md5-hash shards, the
  *     write-layout step of a training run.
  *
  * Every stage is a DataFrame → DataFrame transform: the whole
  * pipeline is ONE lazy plan per action, Catalyst sees it end to end,
  * and nothing collects to the driver. Prints per-stage row counts and
  * the final per-shard histogram; with `outDir`, writes the curated
  * corpus partitioned by shard.
  */
object CuratePipeline {

  /** Library-composable core (spec'd): all four stages, no I/O. */
  def curate(docs: DataFrame, minQuality: Double = 0.2,
             shards: Int = 8): DataFrame = {
    // 1. exact dedup: survivor = min doc_id of each exact-text class
    val exactSurvivors = docs.join(
      Dedup.exactDupClasses(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id")),
      "doc_id")

    // 2. near-dedup: MinHash candidates (Jaccard distance ≤ 0.2 ⟺
    //    similarity ≥ 0.8) -> connected components -> keep = min id of
    //    each cluster (plus every unclustered doc)
    val pairs = Dedup.minHashPairs(exactSurvivors, "doc_id", "text",
      maxDistance = 0.2)
    val losers = Dedup.dupClusters(pairs)
      .filter(!col("keep")).select(col("doc_id"))
    val nearSurvivors = exactSurvivors.join(losers, Seq("doc_id"),
      "left_anti")

    // 3. quality + PII scrub
    val scored = nearSurvivors
      .withColumn("text", TextAnalysis.redactPii(col("text")))
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .filter(col("quality") >= minQuality)

    // 4. deterministic shard assignment (content-hash, not RNG: a
    //    re-run lands every doc in the same shard)
    scored.withColumn("shard",
      (conv(substring(md5(col("text")), 1, 7), 16, 10).cast("long")
        % shards).cast("long"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1)
    val spark = Sessions.getOrCreate(Sessions.builder(4))

    val docs = Q.t(spark, sfDir, "documents")
    val n0 = docs.count()
    val curated = curate(docs)
    val hist = curated.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("n_chars"))
      .orderBy("shard")

    println(s"[curate] input docs:   $n0")
    println(s"[curate] curated docs: ${curated.count()}")
    hist.collect().foreach { r =>
      println(s"[curate] shard ${r.getLong(0)}: ${r.getLong(1)} docs, " +
        s"${r.getLong(2)} chars")
    }
    outDir.foreach { o =>
      curated.write.mode("overwrite").partitionBy("shard").parquet(o)
      println(s"[curate] wrote $o")
    }
  }
}

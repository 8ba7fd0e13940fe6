package graft.examples

import graft.Sessions
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.queries.Q
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: measures every approximate operator's quality contract
  * (recall vs an exact baseline, sketch error bounds) at a given scale
  * factor — the numbers behind the `*_ok` boolean bounds in the gate
  * queries. Run: `sbt "runMain graft.examples.ContractProbe <sfDir>"`.
  */
object ContractProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Sessions.getOrCreate(Sessions.builder(4))

    def pct(n: Long, d: Long): String =
      if (d == 0) "n/a (0 truth)" else f"${n * 100.0 / d}%.1f%% ($n/$d)"

    def pairRecall(truth: DataFrame, found: DataFrame): String = {
      val t = truth.select("id_a", "id_b").distinct()
      val f = found.select(col("id_a").as("fa"), col("id_b").as("fb"))
        .distinct()
      val total = t.count()
      val hit = t.join(f,
        col("id_a") === col("fa") && col("id_b") === col("fb")).count()
      pct(hit, total)
    }

    val docs = Q.t(spark, sfDir, "documents")
    val docsAll = docs.withColumn("blk", lit("all"))
    val truth08 = Dedup.ngramJaccardPairs(docsAll, "doc_id", "text", "blk",
      3, 0.8).cache()
    val truth09 = truth08.filter(col("jaccard") >= 0.9)

    println("== text dedup family ==")
    println("minhash(maxDist=0.2) vs truth@0.8:  " + pairRecall(truth08,
      Dedup.minHashPairs(docs, "doc_id", "text", 0.2)))
    println("banded(b16r4,minJ=0.8) vs truth@0.8: " + pairRecall(truth08,
      Dedup.bandedMinHashPairs(docs, "doc_id", "text", 0.8)))
    // simhash: hamming distance of signatures on truth pairs
    val sigs = Dedup.simHashSignatures(docs, "doc_id", "text")
      .select(col("id"), col("simhash"))
    val withSig = truth08
      .join(sigs.select(col("id").as("id_a"), col("simhash").as("sg_a")),
        "id_a")
      .join(sigs.select(col("id").as("id_b"), col("simhash").as("sg_b")),
        "id_b")
      .withColumn("ham", bit_count(col("sg_a").bitwiseXOR(col("sg_b"))))
    Seq(4, 8, 16).foreach { d =>
      println(s"simhash hamming<=$d on truth@0.8:    " + pairRecall(truth08,
        withSig.filter(col("ham") <= d)))
    }
    val fp = udf((text: String) => TextAnalysis.fingerprintOf(text, 5))
    val withFp = truth09
      .join(docs.select(col("doc_id").as("id_a"), fp(col("text")).as("fp_a")),
        "id_a")
      .join(docs.select(col("doc_id").as("id_b"), fp(col("text")).as("fp_b")),
        "id_b")
    println("fingerprint equal on truth@0.9:     " + pairRecall(truth09,
      withFp.filter(col("fp_a") === col("fp_b"))))
    truth08.unpersist()

    println("== embeddings ==")
    val emb = Q.t(spark, sfDir, "embeddings")
    val queries5 = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, queries5, "vec_id",
      "embedding", 5).cache()
    exact.count()
    def annRecall(ann: DataFrame, idCol: String,
                  simFloor: Option[Double]): String = {
      val must = simFloor.map(f => exact.filter(col("sim") >= f))
        .getOrElse(exact)
      val f = ann.select(col("qid").as("fq"), col(idCol).as("fi")).distinct()
      val total = must.count()
      val hit = must.join(f,
        col("qid") === col("fq") && col("vec_id") === col("fi")).count()
      pct(hit, total)
    }
    Seq(2, 4, 8).foreach { p =>
      println(s"ivf(nList16,nProbe$p):  " + annRecall(
        Similarity.ivfTopK(emb, queries5, "vec_id", "embedding", 5,
          nProbe = p), "vec_id", None))
    }
    Seq((8, 16, 5), (8, 64, 20), (8, 256, 20), (16, 64, 20), (16, 256, 20))
      .foreach { case (m, kc, k2) =>
        println(s"pq(m$m,k$kc,top$k2):            " + annRecall(
          Similarity.pqTopK(emb, queries5, "vec_id", "embedding", k2,
            m = m, kCode = kc), "vec_id", None))
      }
    Seq((2, 16, 5), (4, 64, 20), (8, 64, 20), (8, 256, 20))
      .foreach { case (p, kc, k2) =>
        println(s"ivfpq(nProbe$p,k$kc,top$k2):     " + annRecall(
          Similarity.ivfPqTopK(emb, queries5, "vec_id", "embedding", k2,
            nProbe = p, kCode = kc), "vec_id", None))
      }
    println("lsh(maxL2=1.3) floor0.16: " + annRecall(
      Similarity.lshCandidates(emb, queries5, "vec_id", "embedding", 1.3),
      "nid", Some(0.16)))
    println("exact top5 sim range: " + exact.agg(min("sim"), max("sim"))
      .collect().mkString)
    val exactPairs = Similarity.cosineNearDupPairs(emb, "vec_id",
      "embedding", 0.45)
    println("cosine lsh vs exact@0.45: " + pairRecall(
      exactPairs.select(col("id_a"), col("id_b")),
      Similarity.cosineNearDupLsh(emb, "vec_id", "embedding", 0.45)))
    exact.unpersist()

    println("== sketches ==")
    val ev = Q.events(spark, sfDir)
    val hll = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), rsd = 0.02).as("a"),
        count_distinct(col("user_id")).as("e"))
      .withColumn("relerr", abs(col("a") - col("e")) / col("e"))
    println("hll max rel err: " + hll.agg(max("relerr")).collect().mkString)
    val orders = Q.t(spark, sfDir, "orders")
    val qa = orders.groupBy("o_orderpriority")
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000))
          .as("a50"),
        percentile_approx(col("o_totalprice"), lit(0.95), lit(10000))
          .as("a95"),
        count(lit(1)).as("n"))
    val ranks = orders.join(qa, "o_orderpriority")
      .groupBy("o_orderpriority")
      .agg(max("n").as("n"),
        (sum(when(col("o_totalprice") <= col("a50"), 1).otherwise(0)) /
          max("n") - 0.5).as("r50err"),
        (sum(when(col("o_totalprice") <= col("a95"), 1).otherwise(0)) /
          max("n") - 0.95).as("r95err"))
    println("quantile rank err: " +
      ranks.agg(max(abs(col("r50err"))), max(abs(col("r95err"))))
        .collect().mkString)

    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._
import graft.ops.{Corpus, Dedup, Similarity, TextAnalysis}

/** End-to-end curation demo — the "switch to this library" walkthrough:
  * one main that takes a testdata dir and runs the full training-data
  * pipeline a 100 TB deployment would run, printing each stage's
  * report. Every stage is the same oracle-verified operator the driver
  * gates (`SparkEntry.queries`); this tool only sequences them.
  *
  *   1. data card          — per-(source, lang) volumes + dup load
  *   2. contract & quality — blocklist gate + quality funnel
  *   3. near-dup           — MinHash-LSH pair mining + clusters
  *   4. decontamination    — 8-gram overlap vs a benchmark slice
  *   5. mixture & draw     — temperature targets + exact-k systematic draw
  *   6. packing            — token-budget sequence bins
  *   7. tokenizer readout  — vocab coverage + per-source drift
  */
object Curate {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.Session.local()
    val docs = TextAnalysis.documents(spark, sfDir)

    println("== 1. data card ==")
    Corpus.dataCard(docs).show(10, truncate = false)

    println("== 2. blocklist gate + quality funnel ==")
    val bl = TextAnalysis.blocklistStats(docs)
    bl.groupBy(col("kept")).agg(count(lit(1)).as("n_docs")).show()
    Corpus.curationFunnel(docs).show()

    println("== 3. near-duplicate mining ==")
    val pairs = Dedup.minHashLsh(docs, threshold = 0.5, bands = 32)
      .persist()
    println(s"candidate-verified near-dup pairs: ${pairs.count()}")
    Dedup.nearDupClusters(docs, pairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("sz")).show(5)
    pairs.unpersist()

    println("== 4. decontamination vs benchmark slice (doc_id < 50) ==")
    Corpus.contaminationCheck(docs, col("doc_id") < 50).show(5)

    println("== 5. mixture targets + systematic draw ==")
    Corpus.sourceMixture(docs).show(5, truncate = false)
    val draw = Corpus.systematicSample(docs, k = 200L)
    println(s"systematic draw: ${draw.agg(sum(col("n_copies"))).head().getLong(0)} copies " +
      s"over ${draw.count()} distinct docs")

    println("== 6. sequence packing (512-token bins) ==")
    Corpus.packTokenBudget(docs, budget = 512L, nShards = 8)
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("shard"), col("bin_id")).as("n_bins")).show()

    println("== 7. tokenizer readouts ==")
    TextAnalysis.vocabCoverage(docs).show()
    TextAnalysis.sourceSimilarity(docs, vocabSize = 20).show(5, truncate = false)

    println("== 8. index sizing (before committing the dedup gates) ==")
    Dedup.lshTuningSweep(docs).show(8, truncate = false)
    Dedup.bloomSizing(docs).show(12, truncate = false)

    println("== 9. diverse exemplar selection (greedy k-center) ==")
    Similarity.kCenterSelect(
      Similarity.embeddings(spark, sfDir), k = 8).show(8, truncate = false)

    println("curation walkthrough complete")
    spark.stop()
  }
}

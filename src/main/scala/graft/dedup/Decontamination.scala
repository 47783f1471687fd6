package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination — the standard training-data hygiene step
  * (flag training documents sharing any long n-gram with an evaluation
  * set, e.g. GPT-3's 13-gram rule, Brown et al. 2020 §C): word-shingle
  * the two corpora, equi-join on the shingle, aggregate per training
  * doc.
  *
  * Scale shape: identical to the Jaccard-dedup substrate — distinct
  * shingles per doc (single codegen pass), hash-join on the shingle key
  * with the (small) benchmark side broadcast or shuffled by key, output
  * bound by true collisions.
  * No all-pairs product; benchmark growth only widens the build side.
  */
object Decontamination {

  /** Distinct lowercase word n-gram rows per doc — rides the dedup
    * substrate ([[Dedup.shingled]]: native codegen `word_shingles`). */
  private def shingleRows(df: DataFrame, textCol: String, idCol: String,
      n: Int, outId: String): DataFrame =
    Dedup.shingled(
        df.select(col(idCol), lower(col(textCol)).as(textCol)), textCol, idCol, n)
      .select(col("id").as(outId), explode(col("shingles")).as("sh"))

  /** Per-training-doc contamination report against a benchmark corpus:
    * (doc_id, n_hits — distinct colliding n-grams, n_bench_docs —
    * distinct benchmark documents hit). Clean docs are absent; callers
    * anti-join to drop contaminated rows. */
  def overlapReport(
      docs: DataFrame,
      docIdCol: String,
      docTextCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int = 13): DataFrame = {
    val d = shingleRows(docs, docTextCol, docIdCol, n, "doc_id")
    val b = shingleRows(benchmark, benchTextCol, benchIdCol, n, "bench_id")
    d.join(b, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(
        countDistinct(col("sh")).as("n_hits"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** The decision step: training rows with no benchmark collision. */
  def decontaminate(
      docs: DataFrame,
      docIdCol: String,
      docTextCol: String,
      benchmark: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      n: Int = 13): DataFrame =
    docs.join(
      overlapReport(docs, docIdCol, docTextCol, benchmark, benchIdCol, benchTextCol, n)
        .select(col("doc_id").as(docIdCol)),
      Seq(docIdCol), "left_anti")
}

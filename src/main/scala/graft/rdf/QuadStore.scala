package graft.rdf

import org.apache.spark.sql.{DataFrame, GraftSparkInternals, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Diff of two statement sets — the unit of dataflow in the reference's
  * pipeline (`core/src/main/com/thymeflow/rdf/model/StatementSetDiff.scala:8-62`). */
case class QuadDiff(added: DataFrame, removed: DataFrame) {
  def isEmpty: Boolean = added.isEmpty && removed.isEmpty
  def union(other: QuadDiff): QuadDiff =
    QuadDiff(added.unionByName(other.added), removed.unionByName(other.removed))
}

/** Quad-store operations with the reference's replace-graph and negation
  * semantics (`core/src/main/com/thymeflow/Pipeline.scala:57-93`,
  * `core/src/main/com/thymeflow/rdf/model/vocabulary/Negation.scala:16-23`).
  *
  * The store is a parquet table partitioned by `g`: re-ingesting a document
  * (or re-running an enricher) replaces exactly its graph partition —
  * `replaceWhere`-style overwrite, no full-table rewrite. All set algebra is
  * expressed as anti-joins on the quad key so Catalyst plans hash joins
  * (never sort-merge-on-whole-row `EXCEPT` with its row-serialization cost).
  */
object QuadStore {

  private val key = Seq("s", "p", "o", "g")

  /** added = next − current, removed = current − next, both scoped to one
    * graph: the document replace-diff of Pipeline.addDocumentToRepository. */
  def replaceGraphDiff(current: DataFrame, next: DataFrame, graph: String): QuadDiff = {
    val cur = current.where(col("g") === graph)
    val nxt = next.where(col("g") === graph)
    QuadDiff(
      added = nxt.join(cur, key, "left_anti"),
      removed = cur.join(nxt, key, "left_anti"))
  }

  /** General two-version diff (graph-agnostic). */
  def diff(current: DataFrame, next: DataFrame): QuadDiff =
    QuadDiff(
      added = next.join(current, key, "left_anti"),
      removed = current.join(next, key, "left_anti"))

  /** Negation guard (reference J5): drop additions for which a negation
    * statement exists — `negations` holds quads whose (s, p, o) mark
    * "this statement must not be asserted" (`AbstractEnricher.scala:26-33`).
    * Graph-insensitive like the reference's check. */
  def guardAgainstNegations(added: DataFrame, negations: DataFrame): DataFrame =
    added.join(negations.select("s", "p", "o").distinct(), Seq("s", "p", "o"), "left_anti")

  /** Apply a diff to a store version (batch MERGE semantics of T2) and
    * return the new version committed ([[commit]]: one measuring job, after
    * a job per exchange of the diff's joins under AQE; right-sized,
    * planned from its measured size). This is the one way a store version
    * is made from a diff — the pipeline's batch step and enrichers, SPARQL
    * UPDATE, write-back routing and sync deltas all go through it — so a
    * version never carries the anti-join/union lineage of the versions
    * before it.
    * NB: a using-columns join reorders output columns (keys first), so both
    * union inputs are re-projected to the store's column order explicitly. */
  def applyDiff(store: DataFrame, d: QuadDiff): DataFrame = {
    val cols = store.columns.map(col).toSeq
    commit(store.join(d.removed, key, "left_anti").select(cols: _*)
      .unionByName(d.added.select(cols: _*)))
  }

  /** Commit a store version that arrives from outside rather than from
    * [[applyDiff]] (a parquet read, the store an endpoint starts or
    * refreshes with): materialized once, split into as many partitions as
    * its measured bytes fill at Spark's advisory partition size, and
    * planned from its measured size and row count (see
    * [[org.apache.spark.sql.GraftSparkInternals.commit]]). A raw
    * `localCheckpoint` of a store keeps the partitions of every union
    * input and a size estimate multiplied up through the joins below it,
    * which plans every BGP join as a shuffle join. Committing a committed
    * version (anything [[applyDiff]] returned) is a no-op. */
  def commit(store: DataFrame): DataFrame = GraftSparkInternals.commit(store)

  /** Persist a store partitioned by graph; a later replace of one graph is
    * a dynamic partition overwrite touching only that directory. */
  def write(store: DataFrame, path: String): Unit =
    store.write
      .mode(SaveMode.Overwrite)
      .partitionBy("g")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Quad.schema).parquet(path)
}

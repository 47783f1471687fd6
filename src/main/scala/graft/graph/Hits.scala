package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (Kleinberg 1999) — the bipartite-flavored
  * sibling of [[PageRank]]: authorities are pages good hubs point to,
  * hubs are pages that point to good authorities. On a link corpus the
  * two scores separate "content" pages from "directory" pages — a
  * curation signal PageRank's single score conflates.
  *
  * Same determinism discipline as [[PageRank.fixedPoint]]: the entire
  * mutual recurrence runs in scaled integers,
  *
  *   a(v) = Σ_{u→v} h(u)   then   a ← (a·scale) div max(a)
  *   h(u) = Σ_{u→v} a(v)   then   h ← (h·scale) div max(h)
  *
  * with max-normalization replacing the usual L2 norm — a sqrt-free
  * choice that keeps every quantity integral, so any engine and any
  * partitioning reproduces identical scores and a SQL oracle can
  * restate the unrolled recurrence term by term. (Normalizing by the
  * max instead of the norm rescales uniformly per iteration, which
  * preserves the RANKING the power iteration converges to.)
  *
  * Scale shape: per half-step ONE join of the current score onto edges
  * and ONE aggregation on the opposite endpoint; the max is a 1-row
  * broadcast, so normalization is map-side. Edges are committed once;
  * hub in-skew is absorbed by partial aggregation exactly as in
  * PageRank. */
object Hits {

  /** Edges (src, dst); duplicates = parallel links. Output: (id, auth,
    * hub) for every vertex, scaled so each iteration's max is `scale`;
    * vertices receiving no mass score 0. */
  def fixedPoint(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L, checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val e = GraftSparkInternals.commit(
      edges.select(col("src").cast("long"), col("dst").cast("long")))
    val vertices = GraftSparkInternals.commit(e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct())

    // the score·scale product runs in decimal(38,0): a raw half-step sum
    // is bounded by in-degree·scale, so long arithmetic would wrap for
    // vertices past ~9.2e6 in-degree (routine on web link graphs). The
    // quotient is ≤ scale, so the long result of `div` is always exact.
    def normalized(raw: DataFrame, valCol: String): DataFrame =
      raw.crossJoin(broadcast(raw.agg(max(col(valCol)).as("mx"))))
        .select(col("id"),
          expr(s"(cast($valCol as decimal(38,0)) * ${scale}L) div mx")
            .as(valCol))

    var hub: DataFrame = vertices.withColumn("h", lit(scale))
    var auth: DataFrame = null
    for (i <- 0 until iterations) {
      val aRaw = e.join(hub.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
      auth = normalized(aRaw, "a")
      val hRaw = e.join(auth.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
      hub = normalized(hRaw, "h")
      if ((i + 1) % checkpointEvery == 0 && i + 1 < iterations) {
        auth = GraftSparkInternals.commit(auth)
        hub = GraftSparkInternals.commit(hub)
      }
    }
    vertices
      .join(auth, Seq("id"), "left")
      .join(hub, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
  }
}

package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

/** Multi-source BFS hop distances — the distributed frontier expansion
  * (Pregel pattern) complementing the driver-side exact Dijkstra
  * (`graph/src/main/com/thymeflow/graph/ShortestPath.scala:13-305` in
  * the reference, which assumes the graph fits one heap). Unweighted
  * hops: distance(v) = min hops from ANY source — reachability layers,
  * influence radius, "within-n-clicks" cohorts.
  *
  * Semi-naive frontier iteration: only vertices first reached in round
  * i-1 expand in round i (frontier ⋈ edges, left-anti against the
  * settled set), so total work is O(Σ frontier sizes) = O(E) across the
  * whole run, not O(E) per round. Settled distances and the frontier
  * are committed per round — the loop re-reads materialized tables,
  * plan depth stays constant, and an empty frontier is read off its
  * measured row count rather than found by a job. Integer hop counts
  * make the result engine-exact at any partitioning; the SQL oracle
  * unrolls the rounds as left-anti-joined expansions.
  */
object Bfs {

  /** Directed edges (src, dst); `sources` one column `id`. Returns
    * (id, dist) for every vertex reachable within `maxHops` (sources at
    * dist 0). */
  def hopDistances(edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0, "maxHops must be >= 0")
    val e = GraftSparkInternals.commit(
      edges.select(col("src").cast("long"), col("dst").cast("long")).distinct())
    var settled = GraftSparkInternals.commit(
      sources.select(col("id").cast("long")).distinct().withColumn("dist", lit(0)))
    var frontier = settled // the join below reads only its `id`
    var hop = 0
    while (hop < maxHops && GraftSparkInternals.measured(frontier)._1 > 0) {
      val next = GraftSparkInternals.commit(
        e.join(frontier.withColumnRenamed("id", "src"), "src")
          .select(col("dst").as("id")).distinct()
          .join(settled.select(col("id")), Seq("id"), "left_anti"))
      hop += 1
      settled = GraftSparkInternals.commit(
        settled.unionByName(next.withColumn("dist", lit(hop))))
      frontier = next
    }
    settled
  }

  /** Bounded Bellman–Ford: cheapest path weight using ≤ `maxRounds`
    * edges, integer weights — the weighted extension of [[hopDistances]]
    * with the same semi-naive discipline (only vertices whose distance
    * IMPROVED last round relax their out-edges). Exact for the bounded
    * recurrence dₖ(v) = min(dₖ₋₁(v), min_{u→v}(dₖ₋₁(u)+w)), which a SQL
    * oracle unrolls; run with maxRounds ≥ |V| for true shortest paths
    * (non-negative weights keep the bound meaningful earlier). */
  def boundedShortestPaths(edges: DataFrame, sources: DataFrame,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0")
    val e = GraftSparkInternals.commit(edges.select(col("src").cast("long"),
      col("dst").cast("long"), col("w").cast("long")))
    var dist = GraftSparkInternals.commit(
      sources.select(col("id").cast("long")).distinct().withColumn("dist", lit(0L)))
    var frontier = dist
    var round = 0
    while (round < maxRounds && GraftSparkInternals.measured(frontier)._1 > 0) {
      val cand = e.join(frontier.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("dist") + col("w")).as("nd"))
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      val improved = GraftSparkInternals.commit(cand.join(dist, Seq("id"), "left")
        .where(col("dist").isNull || col("nd") < col("dist"))
        .select(col("id"), col("nd").as("dist")))
      dist = GraftSparkInternals.commit(dist.withColumnRenamed("dist", "old")
        .join(improved, Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("dist"), col("old")).as("dist")))
      frontier = improved
      round += 1
    }
    dist
  }
}

package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling — the standard
  * graph-density filter (Seidman 1983): repeatedly delete every vertex
  * whose degree in the SURVIVING subgraph is < k until none remains.
  * On a link/co-occurrence corpus the k-core isolates the dense
  * interaction backbone (spam farms, tight communities) that degree
  * thresholding alone cannot see, because each deletion lowers its
  * neighbors' degrees.
  *
  * The fixpoint is unique (peeling order never changes the result), so
  * the operator is engine-exact; bounding `maxRounds` gives the
  * deterministic partial peel the SQL oracle unrolls round by round.
  *
  * Scale shape: each round is ONE degree aggregation over the current
  * edge set plus two semi-joins to drop edges with a deleted endpoint —
  * all key-partitioned shuffles, no row explosion; the edge frame is
  * committed every few rounds to bound plan depth. Rounds are
  * data-dependent but small in practice (the degeneracy ordering
  * converges in O(peel depth) rounds, and `maxRounds` caps pathology).
  * Early exit when a round deletes nothing.
  */
object KCore {

  /** Edges (src, dst), treated as undirected (symmetrized internally,
    * self-loops dropped, parallel edges deduplicated). Returns the
    * surviving vertices with their degree inside the final subgraph:
    * (id, deg). `maxRounds` bounds peeling; Int.MaxValue runs to the
    * true k-core fixpoint. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = Int.MaxValue,
      checkpointEvery: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val undirected = edges
      .select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    var e = GraftSparkInternals.commit(undirected // one directed row per (vertex, neighbor)
      .select(col("u").as("src"), col("v").as("dst"))
      .unionByName(undirected.select(col("v").as("src"), col("u").as("dst"))))

    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val dropped = deg.where(col("deg") < k).select(col("id"))
      if (dropped.isEmpty) done = true
      else {
        val kept = deg.where(col("deg") >= k).select(col("id"))
        val next = e
          .join(kept.withColumnRenamed("id", "src"), "src")
          .join(kept.withColumnRenamed("id", "dst"), "dst")
          .select(col("src"), col("dst"))
        e =
          if ((round + 1) % checkpointEvery == 0) GraftSparkInternals.commit(next)
          else next
      }
      round += 1
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }
}

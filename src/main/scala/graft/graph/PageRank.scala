package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

/** Fixed-point PageRank — link-graph authority scoring as corpus-quality
  * signal (Common Crawl ranks hosts this way to pick crawl/curation
  * priorities). Spark's float PageRank (GraphX-style) is
  * non-deterministic across partitionings because float addition does
  * not commute; this one runs the ENTIRE recurrence in scaled integers:
  *
  *   r⁰(v)   = scale                       (≡ 1.0)
  *   rᵏ⁺¹(v) = (scale·(den−num))/den
  *             + (num · Σ_{u→v} ⌊rᵏ(u)/outdeg(u)⌋) div den
  *
  * with num/den the damping rational (85/100). Integer sums commute
  * exactly, so ANY engine — and any partitioning — reproduces the
  * identical ranks, making the operator oracle-checkable term by term.
  * Truncation loses < 1 unit per term per iteration (scale 10⁶ ⇒ error
  * < 10⁻⁵ relative), the standard fixed-point trade.
  *
  * Dangling mass (vertices with no out-edges) is dropped, not
  * redistributed — the common simplification when ranks feed a
  * RELATIVE quality ordering.
  *
  * Scale shape: per iteration ONE shuffle of (rank ⋈ edges on src,
  * pre-divided contributions) and ONE aggregation shuffle on dst; edges
  * with their out-degrees are computed once and lazily localCheckpointed,
  * so the loop re-reads a materialized (src, dst, deg) table instead of
  * re-counting. The rank state is committed every `checkpointEvery`
  * iterations — plan depth stays bounded on long runs without paying a
  * materialization per step on short ones. Skewed in-degree (a hub
  * page) is one aggregation key: partial aggregation absorbs it
  * map-side. */
object PageRank {

  /** Edges: (src, dst) integral ids, duplicates = parallel links (each
    * carries weight). Output: (id, rank) for every vertex, scaled
    * integers. */
  def fixedPoint(edges: DataFrame, iterations: Int,
      scale: Long = 1000000L, dampNum: Long = 85, dampDen: Long = 100,
      checkpointEvery: Int = 4): DataFrame = {
    require(iterations >= 0, "iterations must be >= 0")
    require(dampNum >= 0 && dampNum <= dampDen, "damping must be in [0,1]")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // Degree via groupBy + join, NOT a count window over src: the probe
    // data is decisive (pagerank600k 3.5 s join vs 7.2 s window). The
    // join shape is planner-ADAPTIVE: a broadcastable degree table
    // (even 100 TB of edges can have few vertices) joins with NO edge
    // shuffle at all, and when degrees outgrow the broadcast threshold
    // the sort-merge shuffles edges by src exactly like the window
    // would. The window shape shuffles every edge unconditionally.
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // lazy: the final action materializes it on first use — the loop's
    // iterations read it strictly downstream, so eagerness only added a
    // serial driver job. Its inherited estimate is a product of two base
    // tables' sizes, not of the loop state's, so it cannot compound
    val withDeg = e.join(deg, "src").localCheckpoint(eager = false)
    // single consumer (the final assignment join) — no checkpoint; a
    // materialization here would add a full job for a frame read once
    val vertices = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct()
    val base = (scale * (dampDen - dampNum)) / dampDen

    // Sparse rank representation: `ranks` holds ONLY vertices that
    // received in-mass last iteration; everything else is the constant
    // `base` (or `scale` before the first step). This drops the
    // per-iteration dense (vertices ⋈ contrib) join — the full vertex
    // set is joined back exactly once, at the end — and makes the
    // per-iteration checkpoint the small mass table, not the vertex set.
    // The recurrence (and its truncation points) is unchanged.
    // The iteration chain is LINEAR (each rank table is read exactly once
    // by the next step), so within one action Spark executes it as one
    // multi-stage job with no recomputation — cutting lineage every step
    // would pay a full materialization per iteration for nothing. The
    // checkpoint's only job is bounding plan/codegen depth on LONG runs,
    // so it fires every `checkpointEvery` steps instead.
    var ranks: Option[DataFrame] = None // None ≡ every rank == scale
    for (i <- 0 until iterations) {
      val withRank = ranks match {
        case None => withDeg.withColumn("rank", lit(scale))
        case Some(r) =>
          withDeg.join(r.withColumnRenamed("id", "src"), Seq("src"), "left")
            .withColumn("rank", coalesce(col("rank"), lit(base)))
      }
      val contrib = withRank
        .select(col("dst").as("id"), expr("rank div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("m"))
      val next = contrib.select(col("id"),
        (lit(base) + expr(s"($dampNum * m) div $dampDen")).as("rank"))
      ranks = Some(
        if ((i + 1) % checkpointEvery == 0 && i + 1 < iterations)
          GraftSparkInternals.commit(next)
        else next)
    }
    ranks match {
      case None => vertices.withColumn("rank", lit(scale))
      case Some(r) =>
        vertices.join(r, Seq("id"), "left")
          .select(col("id"), coalesce(col("rank"), lit(base)).as("rank"))
    }
  }
}

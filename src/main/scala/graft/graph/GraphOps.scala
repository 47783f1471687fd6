package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSparkInternals, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed graph operators expressed as iterative DataFrame plans.
  *
  * The reference runs these in-memory on the driver
  * (`graph/src/main/com/thymeflow/graph/ConnectedComponents.scala:9-36` —
  * BFS over a neighbor function) which caps at driver heap. Here both
  * closure and components are semi-naive fixpoint loops over DataFrames:
  * each iteration is a shuffle join, the state is pinned with
  * `GraftSparkInternals.commit` so plans stay O(1) deep, and convergence
  * is read off the row count that commit measured (no counting job).
  * At cluster scale the per-iteration joins shuffle-partition on the join
  * key and benefit from AQE; label propagation uses pointer-jumping so long
  * paths converge in O(log n) rounds, not O(n).
  */
object GraphOps {

  /** Re-alias every column so the plan's output attributes get fresh
    * expression ids. Unions of plans that share attribute ids (which happens
    * when both sides descend from the same localCheckpoint) trip Catalyst's
    * Union constraint rewriting — fresh aliases keep the children disjoint. */
  private def refreshed(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)): _*)

  /** Thrown by the closure circuit breaker (SURVEY §7.4 risk 2): a dense
    * graph's transitive closure is O(n²) pairs, and a runaway closure must
    * fail fast with a named budget instead of filling the cluster. */
  final class ClosureBudgetExceeded(pairs: Long, budget: Long) extends
    RuntimeException(
      s"transitive closure exceeded $pairs pairs (budget $budget); " +
        "raise maxPairs or pre-filter the edge set")

  /** Transitive closure of a directed edge set (`src`, `dst`): all pairs
    * (a, b) such that b is reachable from a in >= 1 step. Semi-naive
    * evaluation: only the newly-discovered frontier is re-joined per round.
    * Mirrors SPARQL property-path `p*` semantics (SURVEY Q9/G2) minus the
    * reflexive pairs (add them trivially if needed).
    */
  def transitiveClosure(
      edges: DataFrame,
      maxIterations: Int = 50,
      smallGraphThreshold: Long = 100000,
      maxPairs: Long = 50000000L,
      maxDriverBytes: Long = 256L << 20): DataFrame = {
    val e = GraftSparkInternals.commit(edges.select(col("src"), col("dst")).distinct())
    // adaptive: small edge sets are solved exactly on the driver (the
    // reference's own regime — SURVEY G1: "for <=1e5 nodes, driver BFS is
    // acceptable and exact"); the distributed fixpoint pays ~0.5s of job
    // scheduling per iteration, which only amortizes on big graphs. The
    // gate is rows AND bytes, both as commit measured them — wide IRI ids
    // flip to distributed long before the row threshold.
    val (n, bytes) = GraftSparkInternals.measured(e)
    if (n <= smallGraphThreshold && bytes <= maxDriverBytes)
      return closureOnDriver(e, maxPairs)
    var closure = e
    var frontier = e
    var total = n
    var i = 0
    var done = false
    while (!done && i < maxIterations) {
      val next = GraftSparkInternals.commit(frontier.alias("f")
        .join(e.alias("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .distinct()
        .join(closure, Seq("src", "dst"), "left_anti"))
      val added = GraftSparkInternals.measured(next)._1
      if (added == 0) done = true
      else {
        total += added
        // circuit breaker: fail fast before materializing a quadratic blowup
        if (total > maxPairs) throw new ClosureBudgetExceeded(total, maxPairs)
        closure = GraftSparkInternals.commit(refreshed(closure).union(refreshed(next)))
        frontier = next
      }
      i += 1
    }
    closure
  }

  /** Connected components of an undirected graph. Input `edges` (`src`,
    * `dst`), optional extra `vertices` (`id`) for isolated nodes. Output
    * (`id`, `component`) where component = min vertex id in the component.
    *
    * Min-label propagation plus a pointer-jumping step per round
    * (label := label-of-label), so path graphs converge in O(log n) rounds.
    */
  def connectedComponents(
      edges: DataFrame,
      vertices: Option[DataFrame] = None,
      maxIterations: Int = 50,
      smallGraphThreshold: Long = 1000000,
      maxDriverBytes: Long = 256L << 20): DataFrame = {
    // adaptive small-graph fast path: exact union-find on the driver
    // (reference G1 regime), gated on rows AND bytes (wide IRI ids flip
    // to distributed early); the distributed label loop is for graphs
    // that do not fit one machine. The gate operates on the RAW edge
    // stream — no symmetrize/distinct shuffle, union-find absorbs
    // duplicates for free and the raw row count only over-estimates
    // (flipping to distributed early, the safe direction). Two cheap
    // steps: a 1000-row width sample, then ONE bounded collect that
    // doubles as the union-find input (no separate count job).
    // clamp to int range BEFORE arithmetic (callers pass Long.MaxValue to
    // mean "always driver")
    val cap = math.min(smallGraphThreshold, Int.MaxValue.toLong - 2)
    val idTypes = Seq(edges.schema("src").dataType, edges.schema("dst").dataType) ++
      vertices.map(_.schema("id").dataType)
    val integral: org.apache.spark.sql.types.DataType => Boolean = {
      import org.apache.spark.sql.types._
      t => t == LongType || t == IntegerType || t == ShortType || t == ByteType
    }
    if (idTypes.forall(integral)) {
      // integral ids: width is fixed, so the gate needs no width sample
      // and the collect carries primitives, not strings — ONE bounded
      // take doubles as gate probe and union-find input. The budget uses
      // the JVM-heap footprint of a collected row (Row + Array[Any] + two
      // boxed Longs ≈ 128 B), not the 16-byte serialized width: the gate
      // bounds what the DRIVER holds, and the boxed form is what it holds
      val capL = math.min(cap, maxDriverBytes / 128)
      val probe = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .take((capL + 1).toInt)
      if (probe.length <= capL)
        return componentsOnDriverLong(
          probe.map(r => (r.getLong(0), r.getLong(1))), edges, vertices)
    } else {
      val strRaw = edges.select(col("src").cast("string"), col("dst").cast("string"))
      val sample = strRaw.take(1000)
      def width(r: org.apache.spark.sql.Row): Long =
        r.getString(0).length.toLong + r.getString(1).length + 32
      val avgW = if (sample.isEmpty) 0L else sample.map(width).sum / sample.length
      if (sample.length < 1000 || avgW * cap <= maxDriverBytes) {
        // take() scans partitions incrementally and collects in parallel —
        // limit().collect() would funnel through a single-partition shuffle
        val probe = strRaw.take((cap + 1).toInt)
        if (probe.length <= smallGraphThreshold &&
            probe.iterator.map(width).sum <= maxDriverBytes)
          return componentsOnDriver(
            probe.map(r => (r.getString(0), r.getString(1))), edges, vertices)
      }
    }
    // distributed path: the label loop reads the symmetrized edge set every
    // round — materialize it once
    val sym = GraftSparkInternals.commit(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    val edgeVerts = sym.select(col("src").as("id")).distinct()
    val allVerts = vertices
      .map(v => edgeVerts.union(v.select(col("id"))).distinct())
      .getOrElse(edgeVerts)

    var labels = GraftSparkInternals.commit(allVerts.withColumn("component", col("id")))
    var changed = true
    var i = 0
    while (changed && i < maxIterations) {
      val lookup = labels
        .select(col("id").as("cid"), col("component").as("ccomp"))
      def jump(df: DataFrame): DataFrame = df.alias("a")
        .join(lookup.alias("b"), col("a.component") === col("b.cid"), "left")
        .select(col("a.id").as("id"), col("a.old").as("old"),
          least(col("a.component"), coalesce(col("b.ccomp"), col("a.component")))
            .as("component"))
      val nbrMin = sym
        .join(labels, sym("dst") === labels("id"))
        .groupBy(sym("src").as("id"))
        .agg(min(col("component")).as("nmin"))
      val propagated = labels.alias("l")
        .join(nbrMin.alias("n"), Seq("id"), "left")
        .select(
          col("id"), col("l.component").as("old"),
          least(col("l.component"), coalesce(col("n.nmin"), col("l.component"))).as("component"))
      // two pointer-jump rounds (component := component-of-component) halve
      // long-path diameters faster; the carried `old` column makes the
      // convergence check a filter on the materialized result, not a join
      val next = GraftSparkInternals.commit(jump(jump(propagated)))
      changed = !next.where(col("component") =!= col("old")).isEmpty
      labels = next.select(col("id"), col("component"))
      i += 1
    }
    labels
  }

  /** Exact driver-side closure (semi-naive BFS per source), with the same
    * pair budget as the distributed loop. */
  private def closureOnDriver(e: DataFrame, maxPairs: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val edgePairs = e.select(col("src").cast("string"), col("dst").cast("string"))
      .as[(String, String)].collect()
    val adj = edgePairs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val out = scala.collection.mutable.ArrayBuffer[(String, String)]()
    for (src <- adj.keys) {
      val seen = scala.collection.mutable.HashSet[String]()
      var frontier: List[String] = adj(src).toList.distinct
      frontier.foreach(seen.add)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(n => adj.getOrElse(n, Array.empty[String]))
          .filterNot(seen)
          .distinct
        frontier.foreach(seen.add)
      }
      if (out.length + seen.size > maxPairs)
        throw new ClosureBudgetExceeded(out.length + seen.size, maxPairs)
      seen.foreach(d => out += ((src, d)))
    }
    val t = e.schema("src").dataType
    spark.createDataset(out.toSeq).toDF("src", "dst")
      .select(col("src").cast(t).as("src"), col("dst").cast(t).as("dst"))
  }

  /** Exact driver-side components (union-find with path compression) over
    * pre-collected string edge pairs; `sym` supplies only type metadata. */
  /** Integral-id twin of [[componentsOnDriver]]: primitive-specialized
    * union-find (LongMap, no boxing on find/union), and the numeric min
    * root IS the typed-min representative — no post-resolution pass. */
  private def componentsOnDriverLong(
      edgePairs: Array[(Long, Long)], sym: DataFrame,
      vertices: Option[DataFrame]): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val extraVerts = vertices.map(
      _.select(col("id").cast("long")).as[Long].collect())
      .getOrElse(Array.empty[Long])
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: Long, b: Long): Unit = {
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    edgePairs.foreach { case (a, b) => union(a, b) }
    val allIds = (edgePairs.flatMap(p => Seq(p._1, p._2)) ++ extraVerts).distinct
    // output in the WIDEST id type present: mixed-width inputs (int
    // vertices, long edge endpoints) must not wrap on the final downcast
    val idType = {
      import org.apache.spark.sql.types._
      val ts = Seq(sym.schema("src").dataType, sym.schema("dst").dataType) ++
        vertices.map(_.schema("id").dataType)
      def w(t: DataType): Int = t match {
        case ByteType => 1; case ShortType => 2; case IntegerType => 4; case _ => 8
      }
      ts.maxBy(w)
    }
    spark.createDataset(allIds.toSeq.map(id => (id, find(id))))
      .toDF("id", "component")
      .select(col("id").cast(idType).as("id"),
        col("component").cast(idType).as("component"))
  }

  private def componentsOnDriver(
      edgePairs: Array[(String, String)], sym: DataFrame,
      vertices: Option[DataFrame]): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val extraVerts = vertices.map(
      _.select(col("id").cast("string")).as[String].collect()).getOrElse(Array.empty)
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // min-label root so components get the minimum member id
        if (Ordering[String].lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    edgePairs.foreach { case (a, b) => union(a, b) }
    val allIds = (edgePairs.flatMap(p => Seq(p._1, p._2)) ++ extraVerts).distinct
    // string min-label differs from typed min for numeric ids ("10" < "9"):
    // resolve the representative per component as the typed-min member.
    // Output type: this path runs only when SOME id type is non-integral,
    // so anything except all-sides-same-type must emit STRING — casting
    // string ids into a numeric vertices type would null/wrap them (the
    // same downcast corruption the integral path guards against), and the
    // distributed path's union coerces mixed inputs to string too.
    val typedExample = {
      val ts = (Seq(sym.schema("src").dataType, sym.schema("dst").dataType) ++
        vertices.map(_.schema("id").dataType)).distinct
      if (ts.size == 1) ts.head else org.apache.spark.sql.types.StringType
    }
    val rows = allIds.map(id => (id, find(id)))
    val byRoot = rows.groupBy(_._2)
    val repr: Map[String, String] = typedExample match {
      case t if t == org.apache.spark.sql.types.LongType ||
          t == org.apache.spark.sql.types.IntegerType =>
        byRoot.view.mapValues(_.map(_._1).minBy(_.toLong).toString).toMap
      case _ => byRoot.view.mapValues(_.map(_._1).min).toMap
    }
    val out = rows.map { case (id, root) => (id, repr(root)) }
    spark.createDataset(out.toSeq).toDF("id", "component")
      .select(col("id").cast(typedExample).as("id"),
        col("component").cast(typedExample).as("component"))
  }
}

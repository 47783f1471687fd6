package graft.entry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import scala.collection.immutable.ListMap

import graft.operators.IntervalJoin
import graft.graph.GraphOps
import graft.dedup.Dedup
import graft.enrich.Resolution
import graft.similarity.Ann
import graft.text.TextAnalysis
import graft.rdf.{Bgp, QuadStore, TpchQuads}
import graft.rdf.Bgp.Pattern

import graft.entry.EntryKit.{t, eventsAsObservations}

/** Spatial (stays, haversine, geodesy) and iterative graph algorithms (components, closure, PageRank, SCC, BFS, k-core, HITS).
  *
  * One of the per-package query registries aggregated by
  * [[graft.SparkEntry]] — split out of the former 6k-LoC single object
  * so each registry compiles to a bounded class (static-init and
  * JIT/class-loading pressure were the bench's named suspect).
  * Query semantics, ids and oracle SQL are unchanged by the split.
  */
private[graft] object SpatialGraphQueries {

  /** Q9/G2: transitive closure by semi-naive fixpoint iteration. */
  private def q13_closure(s: SparkSession, dir: String): DataFrame = {
    val sup = t(s, dir, "supplier").select(
      concat(lit("S"), col("s_suppkey").cast("string")).as("src"),
      concat(lit("N"), col("s_nationkey").cast("string")).as("dst"))
    val nat = t(s, dir, "nation").select(
      concat(lit("N"), col("n_nationkey").cast("string")).as("src"),
      concat(lit("R"), col("n_regionkey").cast("string")).as("dst"))
    GraphOps.transitiveClosure(sup.union(nat))
  }

  /** G1: connected components (min-label + pointer jumping) over per-user
    * event chains; isolated events keep their own id as component. */
  private def q14_components(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val edges = ev.withColumn("prev", lag(col("event_id"), 1).over(w))
      .where(col("prev").isNotNull)
      .select(col("prev").as("src"), col("event_id").as("dst"))
    GraphOps.connectedComponents(edges,
        vertices = Some(ev.select(col("event_id").as("id"))))
      .select(col("id").as("event_id"), col("component"))
  }

  /** F3: codegen'd haversine expression in a margin-safe predicate. */
  private def q38_haversine(s: SparkSession, dir: String): DataFrame =
    eventsAsObservations(s, dir)
      .where(graft.functions.GeoTimeFunctions.haversineMeters(
        col("lat"), col("lon"), lit(40.0), lit(-74.0)) < 9000.0)
      .select(col("event_id"))

  /** A8/A9: time-sequential stay extraction, full output. Oracle-stated
    * like q58 (gaps-and-islands reduction on this geometry) extended to
    * the centroid columns: every island observation shares one site
    * coordinate with uniform accuracy, so the incremental Gaussian merge
    * returns that coordinate up to running-mean rounding — `(x·W + x·w)
    * / (W+w)` re-rounds per step, drifting ≤ a few ulp (≪ 1e-9°, i.e.
    * ≲ 0.1 µm) — and a 6-decimal round (0.1 m grid) restores the site
    * coordinate exactly on both engines (pinned by StaySpec's
    * centroid-rounding case). */
  private def q39_stays(s: SparkSession, dir: String): DataFrame =
    graft.spatial.StayExtraction.extractStaysDf(
        eventsAsObservations(s, dir), minStayMs = 10L * 60 * 1000)
      .select(col("user"), col("start_ms"), col("end_ms"),
        round(col("lat"), 6).as("lat"), round(col("lon"), 6).as("lon"),
        col("n_obs"))

  /** J1+J2: event-stay interval+distance matching over the extracted
    * stays. Oracle-stated end-to-end: on this geometry the stays are
    * q58's gaps-and-islands, the 1000 m distance gate reduces to site
    * equality (sites are ~5 km apart, a stay centroid of identical
    * coordinates is exact), and the overlap predicate/ratio are exact
    * integer epoch arithmetic restated verbatim (timestamp comparison at
    * micros, ratio on floor-second endpoints — identical IEEE division
    * in both engines). */
  private def q40_event_stay_match(s: SparkSession, dir: String): DataFrame = {
    val stays = q39_stays(s, dir).select(
      concat(col("user"), lit("_"), col("start_ms")).as("stay_id"),
      timestamp_millis(col("start_ms")).as("s_start"),
      timestamp_millis(col("end_ms")).as("s_end"),
      col("lat").as("s_lat"), col("lon").as("s_lon"))
    val events = eventsAsObservations(s, dir).select(
      col("event_id"), col("ts").as("e_start"),
      (col("ts") + expr("INTERVAL 30 MINUTES")).as("e_end"),
      col("lat").as("e_lat"), col("lon").as("e_lon"))
    graft.enrich.EventStayMatch.matchEvents(events, stays, bucketSeconds = 3600)
      .select(col("event_id"), col("stay_id"))
  }

  /** A9 oracle-checked: on this synthetic geometry (4 distant sites, equal
    * per-site coordinates, 25 m sigma) the Hellinger clusterer provably
    * reduces to maximal same-site runs per user — which SQL states as a
    * gaps-and-islands query. The operator still runs the full
    * repartition+sort+stateful-scan path. Scale note: same-site pairs
    * have H = 0 and cross-site pairs H ≈ 1, so this closed form holds
    * under both the pre-round-12 H² ≤ λ acceptance and the corrected
    * reference scale H ≤ λ — the oracle did not move with that fix
    * (StaySpec pins the scale on a trace where the two disagree). */
  private def q58_stays_oracle(s: SparkSession, dir: String): DataFrame =
    graft.spatial.StayExtraction.extractStaysDf(
        eventsAsObservations(s, dir), minStayMs = 10L * 60 * 1000)
      .select(col("user"), col("start_ms"), col("end_ms"), col("n_obs"))

  /** A9 full fidelity: windowed multi-candidate stay extraction + trellis
    * smoothing (candidate clusters in a 60-min lookup window; Stationary
    * observations dropped by the min-cost state path; greedy re-cluster).
    * On q58's synthetic geometry (4 distant sites, identical per-site
    * coordinates, 25 m sigma) the windowed/Viterbi pass provably agrees
    * with the greedy clusterer — no observation is ever ambiguous, so the
    * trellis decode is the identity — and the q58 gaps-and-islands SQL
    * states the result exactly (float centroids stay out of the oracle
    * columns). Divergence between the two passes on ambiguous traces is
    * fixture-tested in WindowedStaysSpec. */
  private def q66_windowed_stays(s: SparkSession, dir: String): DataFrame =
    graft.spatial.WindowedStays.extractStaysDf(
        eventsAsObservations(s, dir), minFinalStayMs = 10L * 60 * 1000)
      .select(col("user"), col("start_ms"), col("end_ms"), col("n_obs"))

  /** Fixed-point PageRank ([[graft.graph.PageRank]]) on the order→part
    * bipartite graph, 3 iterations: the whole recurrence runs in scaled
    * integers, so the oracle unrolls it as three CTE blocks and the
    * hash compare is exact on every vertex — no float PageRank can make
    * that claim (summation order changes the bits). */
  private def q121_pagerank(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "lineitem").select(col("l_orderkey").as("src"),
      (col("l_partkey") + 10000000L).as("dst"))
    graft.graph.PageRank.fixedPoint(e, iterations = 3)
      .select(col("id"), col("rank").as("pr"))
  }

  /** G12: per-vertex triangle counts on the part co-purchase graph
    * (edges = part pairs sharing ≥ 2 distinct orders), counted with
    * degree-ordered orientation — the O(m^1.5) skew-proof plan. */
  private def q134_triangles(s: SparkSession, dir: String): DataFrame = {
    val l = t(s, dir, "lineitem")
    val edges = l.alias("a")
      .join(l.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count_distinct(col("a.l_orderkey")).as("n_orders"))
      .where(col("n_orders") >= 2)
    graft.graph.Triangles.perVertex(edges, "u", "v")
  }

  /** q161: HITS hubs/authorities — 2 integer fixed-point iterations on
    * the order→part bipartite graph (same edge derivation as q121). */
  private def q161_hits(s: SparkSession, dir: String): DataFrame =
    graft.graph.Hits.fixedPoint(
      t(s, dir, "lineitem").select(col("l_orderkey").as("src"),
        (col("l_partkey") + 10000000L).as("dst")), 2)

  /** q162: k-core peel (k=3, 2 bounded rounds) on the order–part
    * bipartite graph — cascade-aware density filtering the plain degree
    * threshold can't express. */
  private def q162_kcore(s: SparkSession, dir: String): DataFrame =
    graft.graph.KCore.kCore(
      t(s, dir, "lineitem").select(col("l_orderkey").as("src"),
        (col("l_partkey") + 10000000L).as("dst")),
      k = 3, maxRounds = 2)

  /** q164: multi-source BFS hop layers (3 hops) over the undirected
    * order–part graph from the smallest order. */
  private def q164_bfs(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val fwd = li.select(col("l_orderkey").as("src"),
      (col("l_partkey") + 10000000L).as("dst"))
    val edges = fwd.unionByName(
      fwd.select(col("dst").as("src"), col("src").as("dst")))
    val sources = li.agg(min(col("l_orderkey")).as("id"))
    graft.graph.Bfs.hopDistances(edges, sources, maxHops = 3)
      .select(col("id"), col("dist").cast("long").as("dist"))
  }

  /** q169: bounded Bellman–Ford — cheapest ≤3-edge path weights
    * (w = quantity) over the undirected order–part graph from the
    * smallest order. */
  private def q169_sssp(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val fwd = li.select(col("l_orderkey").as("src"),
      (col("l_partkey") + 10000000L).as("dst"),
      col("l_quantity").cast("long").as("w"))
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"),
      col("src").as("dst"), col("w")))
    val sources = li.agg(min(col("l_orderkey")).as("id"))
    graft.graph.Bfs.boundedShortestPaths(edges, sources, maxRounds = 3)
  }

  /** q198: strongly connected components ([[graft.graph.Scc]]) — each
    * customer's orders chained by date and closed into a ring for
    * custkey < 300 (one SCC per such customer), left open for 300–399
    * (singleton SCCs); oracle states mutual reachability via a
    * recursive closure. */
  private def q198_scc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").where(col("o_custkey") < 400)
      .select(col("o_custkey").as("c"), col("o_orderkey").as("k"),
        col("o_orderdate"))
    val w = Window.partitionBy(col("c"))
      .orderBy(col("o_orderdate"), col("k"))
    val seq = o.withColumn("nxt", lead(col("k"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    val chain = seq.where(col("nxt").isNotNull)
      .select(col("k").as("src"), col("nxt").as("dst"))
    val closing = seq.where(col("nxt").isNull && col("c") < 300)
      .select(col("c"), col("k").as("src"))
      .join(seq.where(col("rn") === 1).select(col("c"), col("k").as("dst")),
        Seq("c"))
      .select(col("src"), col("dst"))
    graft.graph.Scc.decompose(chain.union(closing))
      .select(col("id").as("o_orderkey"), col("scc"))
  }

  /** q202: q198's SCC FORCED through the distributed divide-and-conquer
    * path (`smallGraphThreshold = 0` disables the driver entry gate, so
    * round 1 runs the full distributed trim + pointer-cycle contraction
    * + B/F label fixpoint + pair split before the in-loop cutover may
    * collapse the remainder). Labels are min-member-id on EITHER path
    * and the output contract is one row per vertex, so the SAME
    * recursive-closure oracle as q198 must hash-match — the correctness
    * gate pins the distributed kernel itself (including the contraction
    * lift-back, whose row cardinality a rep-chain bug once broke), not
    * just the spec differential. */
  private def q202_scc_dist(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = t(s, dir, "orders").where(col("o_custkey") < 400)
      .select(col("o_custkey").as("c"), col("o_orderkey").as("k"),
        col("o_orderdate"))
    val w = Window.partitionBy(col("c"))
      .orderBy(col("o_orderdate"), col("k"))
    val seq = o.withColumn("nxt", lead(col("k"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    val chain = seq.where(col("nxt").isNotNull)
      .select(col("k").as("src"), col("nxt").as("dst"))
    val closing = seq.where(col("nxt").isNull && col("c") < 300)
      .select(col("c"), col("k").as("src"))
      .join(seq.where(col("rn") === 1).select(col("c"), col("k").as("dst")),
        Seq("c"))
      .select(col("src"), col("dst"))
    graft.graph.Scc.decompose(chain.union(closing), smallGraphThreshold = 0)
      .select(col("id").as("o_orderkey"), col("scc"))
  }

  private[graft] val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q13_closure" -> (q13_closure _),
    "q14_components" -> (q14_components _),
    "q38_haversine" -> (q38_haversine _),
    "q39_stays" -> (q39_stays _),
    "q40_event_stay_match" -> (q40_event_stay_match _),
    "q58_stays_oracle" -> (q58_stays_oracle _),
    "q66_windowed_stays" -> (q66_windowed_stays _),
    "q121_pagerank" -> (q121_pagerank _),
    "q134_triangles" -> (q134_triangles _),
    "q161_hits" -> (q161_hits _),
    "q162_kcore" -> (q162_kcore _),
    "q164_bfs" -> (q164_bfs _),
    "q169_sssp" -> (q169_sssp _),
    "q198_scc" -> (q198_scc _),
    "q202_scc_dist" -> (q202_scc_dist _))

  private[graft] val oracleSql: ListMap[String, String] = ListMap(
    "q13_closure" ->
      """WITH RECURSIVE edges(src, dst) AS (
        |  SELECT 'S' || s_suppkey, 'N' || s_nationkey FROM supplier
        |  UNION ALL
        |  SELECT 'N' || n_nationkey, 'R' || n_regionkey FROM nation
        |), reach(src, dst) AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |) SELECT src, dst FROM reach""".stripMargin,
    "q14_components" ->
      """SELECT event_id, min(event_id) OVER (PARTITION BY user_id) AS component
        |FROM events""".stripMargin,
    // haversine predicate: derived places sit at ~0/7.2/14.4/21.6 km from
    // the anchor; the 9 km cut keeps exactly value-buckets 0 and 1, which
    // the oracle states directly (margin-safe independent of trig libm).
    "q38_haversine" ->
      "SELECT event_id FROM events WHERE floor(value / 50) <= 1",
    // q39: q58's islands plus the 6-decimal-rounded centroid columns —
    // exact on this geometry (see q39's scaladoc; StaySpec pins the
    // centroid-rounding identity).
    "q39_stays" ->
      """WITH obs AS (
        |  SELECT user_id AS u, epoch_ms(ts) AS t, floor(value / 50) AS b
        |  FROM events
        |), ord AS (
        |  SELECT u, t, b,
        |    CASE WHEN lag(b) OVER (PARTITION BY u ORDER BY t) = b
        |      THEN 0 ELSE 1 END AS brk
        |  FROM obs
        |), isl AS (
        |  SELECT u, t, b, sum(brk) OVER (PARTITION BY u ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ord
        |)
        |SELECT u AS user, min(t) AS start_ms, max(t) AS end_ms,
        |  round(40.0 + min(b) * 0.05, 6) AS lat,
        |  round(-74.0 + min(b) * 0.05, 6) AS lon,
        |  count(*) AS n_obs
        |FROM isl GROUP BY u, island
        |HAVING max(t) - min(t) >= 600000""".stripMargin,
    "q58_stays_oracle" ->
      """WITH obs AS (
        |  SELECT user_id AS u, epoch_ms(ts) AS t, floor(value / 50) AS b
        |  FROM events
        |), ord AS (
        |  SELECT u, t, b,
        |    CASE WHEN lag(b) OVER (PARTITION BY u ORDER BY t) = b
        |      THEN 0 ELSE 1 END AS brk
        |  FROM obs
        |), isl AS (
        |  SELECT u, t, sum(brk) OVER (PARTITION BY u ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ord
        |)
        |SELECT u AS user, min(t) AS start_ms, max(t) AS end_ms,
        |  count(*) AS n_obs
        |FROM isl GROUP BY u, island
        |HAVING max(t) - min(t) >= 600000""".stripMargin,
    // q40: stays = q58's islands; distance gate = site equality; overlap
    // ratio = exact integer epoch arithmetic (see q40's scaladoc).
    "q40_event_stay_match" ->
      """WITH obs AS (
        |  SELECT user_id AS u, epoch_ms(ts) AS t, floor(value / 50) AS b
        |  FROM events
        |), ord AS (
        |  SELECT u, t, b,
        |    CASE WHEN lag(b) OVER (PARTITION BY u ORDER BY t) = b
        |      THEN 0 ELSE 1 END AS brk
        |  FROM obs
        |), isl AS (
        |  SELECT u, t, b, sum(brk) OVER (PARTITION BY u ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ord
        |), stays AS (
        |  SELECT u, min(t) AS start_ms, max(t) AS end_ms, min(b) AS b
        |  FROM isl GROUP BY u, island
        |  HAVING max(t) - min(t) >= 600000
        |), ev AS (
        |  SELECT event_id, epoch_us(ts) AS es_us,
        |    epoch_us(ts) + 1800000000 AS ee_us, floor(value / 50) AS b
        |  FROM events
        |)
        |SELECT e.event_id, s.u || '_' || s.start_ms AS stay_id
        |FROM ev e JOIN stays s ON e.b = s.b
        |  AND e.es_us <= s.end_ms * 1000 AND s.start_ms * 1000 <= e.ee_us
        |WHERE CAST((least(e.ee_us, s.end_ms*1000) // 1000000)
        |      - (greatest(e.es_us, s.start_ms*1000) // 1000000) AS DOUBLE)
        |    / CAST((e.ee_us // 1000000) - (e.es_us // 1000000) AS DOUBLE) > 0.2""".stripMargin,
    // q66: on this geometry the windowed/Viterbi extractor provably
    // reduces to the greedy clusterer (see q66's scaladoc) — same
    // gaps-and-islands statement as q58.
    "q66_windowed_stays" ->
      """WITH obs AS (
        |  SELECT user_id AS u, epoch_ms(ts) AS t, floor(value / 50) AS b
        |  FROM events
        |), ord AS (
        |  SELECT u, t, b,
        |    CASE WHEN lag(b) OVER (PARTITION BY u ORDER BY t) = b
        |      THEN 0 ELSE 1 END AS brk
        |  FROM obs
        |), isl AS (
        |  SELECT u, t, sum(brk) OVER (PARTITION BY u ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ord
        |)
        |SELECT u AS user, min(t) AS start_ms, max(t) AS end_ms,
        |  count(*) AS n_obs
        |FROM isl GROUP BY u, island
        |HAVING max(t) - min(t) >= 600000""".stripMargin,
    // q121: the integer recurrence unrolled — r0 = 10^6; r[k+1] =
    // 150000 + (85·Σ⌊r[k]/deg⌋)//100; dangling mass dropped
    "q121_pagerank" ->
      """WITH e AS (
        |  SELECT l_orderkey AS src, l_partkey + 10000000 AS dst FROM lineitem
        |), deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src
        |), v AS (
        |  SELECT DISTINCT id
        |  FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
        |), r0 AS (
        |  SELECT id, CAST(1000000 AS BIGINT) AS pr FROM v
        |), s1 AS (
        |  SELECT e.dst AS id, sum(r0.pr // deg.deg) AS m
        |  FROM e JOIN r0 ON e.src = r0.id JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst
        |), r1 AS (
        |  SELECT v.id,
        |    CAST(150000 + (85 * coalesce(s1.m, 0)) // 100 AS BIGINT) AS pr
        |  FROM v LEFT JOIN s1 ON v.id = s1.id
        |), s2 AS (
        |  SELECT e.dst AS id, sum(r1.pr // deg.deg) AS m
        |  FROM e JOIN r1 ON e.src = r1.id JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst
        |), r2 AS (
        |  SELECT v.id,
        |    CAST(150000 + (85 * coalesce(s2.m, 0)) // 100 AS BIGINT) AS pr
        |  FROM v LEFT JOIN s2 ON v.id = s2.id
        |), s3 AS (
        |  SELECT e.dst AS id, sum(r2.pr // deg.deg) AS m
        |  FROM e JOIN r2 ON e.src = r2.id JOIN deg ON deg.src = e.src
        |  GROUP BY e.dst
        |), r3 AS (
        |  SELECT v.id,
        |    CAST(150000 + (85 * coalesce(s3.m, 0)) // 100 AS BIGINT) AS pr
        |  FROM v LEFT JOIN s3 ON v.id = s3.id
        |)
        |SELECT id, pr FROM r3""".stripMargin,
    // q134: triangles enumerated once as a<b<c over the canonical (u<v)
    // edge set; per-vertex counts by unnesting the three corners
    "q134_triangles" ->
      """WITH e AS (
        |  SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2
        |), tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM e e1 JOIN e e2 ON e2.u = e1.u AND e1.v < e2.v
        |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
        |)
        |SELECT vertex, CAST(count(*) AS BIGINT) AS n_tri FROM (
        |  SELECT unnest([a, b, c]) AS vertex FROM tri
        |) GROUP BY vertex""".stripMargin,
    // q161: HITS unrolled — 2 iterations of the integer mutual
    // recurrence with max-normalization, term by term
    "q161_hits" ->
      """WITH e AS (
        |  SELECT l_orderkey AS src, l_partkey + 10000000 AS dst FROM lineitem
        |), v AS (
        |  SELECT DISTINCT id
        |  FROM (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
        |), h0 AS (
        |  SELECT id, CAST(1000000 AS BIGINT) AS h FROM v
        |), a1r AS (
        |  SELECT e.dst AS id, sum(h0.h) AS a
        |  FROM e JOIN h0 ON e.src = h0.id GROUP BY e.dst
        |), a1 AS (
        |  SELECT id, (a * 1000000) // (SELECT max(a) FROM a1r) AS a FROM a1r
        |), h1r AS (
        |  SELECT e.src AS id, sum(a1.a) AS h
        |  FROM e JOIN a1 ON e.dst = a1.id GROUP BY e.src
        |), h1 AS (
        |  SELECT id, (h * 1000000) // (SELECT max(h) FROM h1r) AS h FROM h1r
        |), a2r AS (
        |  SELECT e.dst AS id, sum(h1.h) AS a
        |  FROM e JOIN h1 ON e.src = h1.id GROUP BY e.dst
        |), a2 AS (
        |  SELECT id, (a * 1000000) // (SELECT max(a) FROM a2r) AS a FROM a2r
        |), h2r AS (
        |  SELECT e.src AS id, sum(a2.a) AS h
        |  FROM e JOIN a2 ON e.dst = a2.id GROUP BY e.src
        |), h2 AS (
        |  SELECT id, (h * 1000000) // (SELECT max(h) FROM h2r) AS h FROM h2r
        |)
        |SELECT v.id, CAST(coalesce(a2.a, 0) AS BIGINT) AS auth,
        |  CAST(coalesce(h2.h, 0) AS BIGINT) AS hub
        |FROM v LEFT JOIN a2 ON v.id = a2.id LEFT JOIN h2 ON v.id = h2.id""".stripMargin,
    // q162: two unrolled peel rounds — degree, keep >= k, edge filter,
    // final degrees of the surviving subgraph
    "q162_kcore" ->
      """WITH und AS (
        |  SELECT DISTINCT least(l_orderkey, l_partkey + 10000000) AS u,
        |    greatest(l_orderkey, l_partkey + 10000000) AS v
        |  FROM lineitem WHERE l_orderkey <> l_partkey + 10000000
        |), e0 AS (
        |  SELECT u AS src, v AS dst FROM und
        |  UNION ALL SELECT v AS src, u AS dst FROM und
        |), d1 AS (
        |  SELECT src, count(*) AS deg FROM e0 GROUP BY src
        |), k1 AS (
        |  SELECT src AS id FROM d1 WHERE deg >= 3
        |), e1 AS (
        |  SELECT e0.src, e0.dst FROM e0
        |  JOIN k1 a ON e0.src = a.id JOIN k1 b ON e0.dst = b.id
        |), d2 AS (
        |  SELECT src, count(*) AS deg FROM e1 GROUP BY src
        |), k2 AS (
        |  SELECT src AS id FROM d2 WHERE deg >= 3
        |), e2 AS (
        |  SELECT e1.src, e1.dst FROM e1
        |  JOIN k2 a ON e1.src = a.id JOIN k2 b ON e1.dst = b.id
        |)
        |SELECT src AS id, CAST(count(*) AS BIGINT) AS deg
        |FROM e2 GROUP BY src""".stripMargin,
    // q164: three unrolled BFS layers with left-anti settled guards
    "q164_bfs" ->
      """WITH fwd AS (
        |  SELECT l_orderkey AS src, l_partkey + 10000000 AS dst FROM lineitem
        |), e AS (
        |  SELECT DISTINCT src, dst FROM
        |  (SELECT src, dst FROM fwd UNION ALL SELECT dst AS src, src AS dst FROM fwd)
        |), s0 AS (
        |  SELECT min(l_orderkey) AS id FROM lineitem
        |), l0 AS (
        |  SELECT id, CAST(0 AS BIGINT) AS dist FROM s0
        |), f1 AS (
        |  SELECT DISTINCT e.dst AS id FROM e JOIN l0 ON e.src = l0.id
        |  WHERE e.dst NOT IN (SELECT id FROM l0)
        |), l1 AS (
        |  SELECT id, dist FROM l0
        |  UNION ALL SELECT id, CAST(1 AS BIGINT) FROM f1
        |), f2 AS (
        |  SELECT DISTINCT e.dst AS id FROM e JOIN f1 ON e.src = f1.id
        |  WHERE e.dst NOT IN (SELECT id FROM l1)
        |), l2 AS (
        |  SELECT id, dist FROM l1
        |  UNION ALL SELECT id, CAST(2 AS BIGINT) FROM f2
        |), f3 AS (
        |  SELECT DISTINCT e.dst AS id FROM e JOIN f2 ON e.src = f2.id
        |  WHERE e.dst NOT IN (SELECT id FROM l2)
        |)
        |SELECT id, dist FROM l2
        |UNION ALL SELECT id, CAST(3 AS BIGINT) FROM f3""".stripMargin,
    // q169: three unrolled Bellman-Ford relaxation rounds
    "q169_sssp" ->
      """WITH fwd AS (
        |  SELECT l_orderkey AS src, l_partkey + 10000000 AS dst,
        |    CAST(l_quantity AS BIGINT) AS w
        |  FROM lineitem
        |), e AS (
        |  SELECT src, dst, w FROM fwd
        |  UNION ALL SELECT dst AS src, src AS dst, w FROM fwd
        |), l0 AS (
        |  SELECT min(l_orderkey) AS id, CAST(0 AS BIGINT) AS dist FROM lineitem
        |), c1 AS (
        |  SELECT e.dst AS id, min(l0.dist + e.w) AS nd
        |  FROM e JOIN l0 ON e.src = l0.id GROUP BY e.dst
        |), l1 AS (
        |  SELECT coalesce(l0.id, c1.id) AS id,
        |    CAST(least(coalesce(l0.dist, c1.nd), coalesce(c1.nd, l0.dist)) AS BIGINT) AS dist
        |  FROM l0 FULL JOIN c1 ON l0.id = c1.id
        |), c2 AS (
        |  SELECT e.dst AS id, min(l1.dist + e.w) AS nd
        |  FROM e JOIN l1 ON e.src = l1.id GROUP BY e.dst
        |), l2 AS (
        |  SELECT coalesce(l1.id, c2.id) AS id,
        |    CAST(least(coalesce(l1.dist, c2.nd), coalesce(c2.nd, l1.dist)) AS BIGINT) AS dist
        |  FROM l1 FULL JOIN c2 ON l1.id = c2.id
        |), c3 AS (
        |  SELECT e.dst AS id, min(l2.dist + e.w) AS nd
        |  FROM e JOIN l2 ON e.src = l2.id GROUP BY e.dst
        |)
        |SELECT coalesce(l2.id, c3.id) AS id,
        |  CAST(least(coalesce(l2.dist, c3.nd), coalesce(c3.nd, l2.dist)) AS BIGINT) AS dist
        |FROM l2 FULL JOIN c3 ON l2.id = c3.id""".stripMargin,
    // q198: SCC = mutual reachability, stated as a recursive closure
    // joined with its own reverse; scc id = min mutual partner (or self)
    "q198_scc" ->
      """WITH RECURSIVE seq AS (
        |  SELECT o_custkey AS c, o_orderkey AS k,
        |    lead(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS nxt,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey < 400
        |), chain AS (
        |  SELECT k AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
        |), closing AS (
        |  SELECT l.k AS src, f.k AS dst
        |  FROM (SELECT c, k FROM seq WHERE nxt IS NULL) l
        |  JOIN (SELECT c, k FROM seq WHERE rn = 1) f USING (c)
        |  WHERE c < 300
        |), e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM chain UNION ALL SELECT src, dst FROM closing)
        |), verts AS (
        |  -- explicit DISTINCT: under WITH RECURSIVE, DuckDB gives bare
        |  -- UNION inside non-recursive CTEs append semantics
        |  SELECT DISTINCT id FROM (
        |    SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        |), reach AS (
        |  SELECT src AS s, dst AS d FROM e
        |  UNION
        |  SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src
        |), mutual AS (
        |  SELECT r1.s AS v, min(r1.d) AS minw
        |  FROM reach r1 JOIN reach r2 ON r1.d = r2.s AND r2.d = r1.s
        |  GROUP BY r1.s
        |)
        |SELECT v.id AS o_orderkey,
        |  CAST(least(v.id, coalesce(m.minw, v.id)) AS BIGINT) AS scc
        |FROM verts v LEFT JOIN mutual m ON m.v = v.id""".stripMargin,
    // q202: the SAME oracle as q198 — the distributed divide-and-conquer
    // path must be row-for-row identical to the driver Tarjan path
    "q202_scc_dist" ->
      """WITH RECURSIVE seq AS (
        |  SELECT o_custkey AS c, o_orderkey AS k,
        |    lead(o_orderkey) OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS nxt,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey < 400
        |), chain AS (
        |  SELECT k AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
        |), closing AS (
        |  SELECT l.k AS src, f.k AS dst
        |  FROM (SELECT c, k FROM seq WHERE nxt IS NULL) l
        |  JOIN (SELECT c, k FROM seq WHERE rn = 1) f USING (c)
        |  WHERE c < 300
        |), e AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM chain UNION ALL SELECT src, dst FROM closing)
        |), verts AS (
        |  -- explicit DISTINCT: under WITH RECURSIVE, DuckDB gives bare
        |  -- UNION inside non-recursive CTEs append semantics
        |  SELECT DISTINCT id FROM (
        |    SELECT src AS id FROM e UNION ALL SELECT dst AS id FROM e)
        |), reach AS (
        |  SELECT src AS s, dst AS d FROM e
        |  UNION
        |  SELECT r.s, e.dst FROM reach r JOIN e ON r.d = e.src
        |), mutual AS (
        |  SELECT r1.s AS v, min(r1.d) AS minw
        |  FROM reach r1 JOIN reach r2 ON r1.d = r2.s AND r2.d = r1.s
        |  GROUP BY r1.s
        |)
        |SELECT v.id AS o_orderkey,
        |  CAST(least(v.id, coalesce(m.minw, v.id)) AS BIGINT) AS scc
        |FROM verts v LEFT JOIN mutual m ON m.v = v.id""".stripMargin
  )
}

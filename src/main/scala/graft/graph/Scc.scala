package graft.graph

import org.apache.spark.sql.{DataFrame, GraftSparkInternals}
import org.apache.spark.sql.functions._

/** Strongly connected components of a DIRECTED graph — mutual
  * reachability, the directed sibling of [[GraphOps.connectedComponents]]
  * (which answers the undirected question): link-graph analysis (the
  * web's bow-tie structure, crawl-frontier cores), dependency-cycle
  * detection, and collapsing a graph to its acyclic condensation before
  * DAG-only algorithms. Output labels each vertex with the MINIMUM
  * member id of its SCC — deterministic on any engine and partitioning.
  *
  * Same adaptive shape as the components operator: a byte-gated driver
  * fast path (iterative Tarjan — one pass, exact) for graphs that fit
  * one machine, and a distributed divide-and-conquer loop (DCSC,
  * Coppersmith et al. 2003/2005; the Multistep refinement adds the trim)
  * past the gate. Round 8 shipped a min-label COLORING loop here; the
  * round-9 scc4M probe (100 chains × 10k ring-SCCs) proved that design
  * non-terminating in practice — coloring peels only the SCCs of the
  * graph's prefix-minima roots per round (≈ln n of them), so a deep
  * condensation chain needs Θ(n/ln n) rounds. DCSC with random pivots
  * splits every subproblem three ways per round instead, for expected
  * O(log n) rounds on exactly that shape:
  *
  *   1. TRIM: vertices with no in- or no out-edge inside their part are
  *      singleton SCCs — peeled iteratively (absorbs DAG tails and
  *      trivial-SCC chains).
  *   1b. CONTRACT: each vertex points at its minimum in-neighbor — a
  *      FUNCTIONAL graph, whose cycles are detected by clean pointer
  *      doubling in exactly ceil(log2 n) joins (r(v) := r(r(v)) walks
  *      2^k predecessor hops; v is on a pointer cycle iff v is in the
  *      image of the 2^K-hop map, and K stops early at an exact
  *      image-count plateau — see the in-loop proof). Every pointer
  *      cycle follows real edges, so its vertices are provably one
  *      SCC — they contract to (window-local) cycle minima before the
  *      label fixpoint ever runs. This is what makes giant cycles
  *      cheap: a 300k-vertex core ring collapses through a few
  *      256-hop-window passes (~99.6% per pass) where any reach-based
  *      fixpoint would grind around it. Contracted ids are lifted back
  *      at the end through an accumulated (orig, cur) mapping; labels
  *      stay exact because each rep is the minimum of its merged set.
  *   2. LABEL: every active part picks the pivot `m` = its minimum
  *      vertex under a fixed hash key (a uniformly random position, so
  *      splits balance regardless of id order). Two reach-min fixpoints
  *      run over ALL parts at once — B(v) = min key over vertices that
  *      reach v, F(v) = min key over vertices v reaches — each
  *      accelerated by a separate DOUBLING ancestor/descendant pointer
  *      (pb(v) := pb(pb(v)) while b folds b(pb(v))), so they converge
  *      in O(log diameter) iterations regardless of key placement.
  *      Within a part, B(v) = key(m) iff m reaches v and F(v) = key(m)
  *      iff v reaches m, because m is the part's unique key-minimum.
  *   3. SPLIT: SCC(m) = { v : B(v) = F(v) = key(m) } is emitted (min
  *      member id as the label). The rest of the part moves to one of
  *      three NEW parts — descendants (B hit, F miss), ancestors (F
  *      hit, B miss), remainder (neither) — which all recurse in
  *      parallel as data. Any SCC not containing the pivot lies wholly
  *      inside one region (mutual reachability would otherwise route
  *      through m), so cross-region edges can be dropped.
  *
  * Every part loses at least its pivot's SCC per round, so termination
  * is unconditional; random pivots make the recursion quicksort-like.
  * Each round also re-checks the driver gate against the REMAINING
  * intra-part edge set (bytes only — `smallGraphThreshold = 0` still
  * forces a distributed entry): rounds shrink the graph geometrically,
  * and once the remainder fits one machine a single iterative-Tarjan
  * pass finishes it exactly (edges are intra-part, so no SCC spans
  * parts) instead of paying more distributed fixpoint rounds for the
  * tail — the round-10 cutover that took the bow-tie probe from 162 s
  * to the cost of its first round. `maxDriverBytes = 0` disables the
  * driver entirely (the spec's pure-distributed differential knob).
  * Fixpoint tables are localCheckpointed per iteration (bounded
  * lineage) and the superseded checkpoint RDDs are unpersisted
  * immediately — a multi-hundred-iteration run holds O(1) generations
  * of state, not O(rounds).
  */
object Scc {

  /** Edges (src, dst), integral ids (dictionary-encode strings
    * upstream). Output: (id, scc) for every vertex appearing in any
    * edge, `scc` = min member id. `onRound` fires once per outer
    * divide-and-conquer round (probe instrumentation). */
  def decompose(edges: DataFrame, maxIterations: Int = 100,
      smallGraphThreshold: Long = 1000000,
      maxDriverBytes: Long = 256L << 20,
      onRound: Int => Unit = _ => ()): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // driver fast path, gated on rows AND the collected heap footprint
    // (same 128 B/row budget as the components gate)
    val capL = math.min(
      math.min(smallGraphThreshold, Int.MaxValue.toLong - 2),
      maxDriverBytes / 128)
    val probe = e0.take((capL + 1).toInt)
    if (probe.length <= capL)
      return spark.createDataFrame(
        tarjan(probe.map(r => (r.getLong(0), r.getLong(1)))).toSeq)
        .toDF("id", "scc")

    val sc = spark.sparkContext
    // checkpoint bookkeeping: cp() commits the frame (measured stats:
    // this loop self-joins its state ~9 ways per iteration, so an
    // inherited estimate would compound) and returns it plus the
    // persistent-RDD ids it pinned; free() drops a superseded
    // generation. Only ids WE pinned are ever freed, so concurrent
    // caches elsewhere in the session are untouched. rows() reads a
    // cp()'d frame's measured row count — no job.
    def cp(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = GraftSparkInternals.commit(df)
      (out, sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def rows(df: DataFrame): Long = GraftSparkInternals.measured(df)._1
    def free(ids: Set[Int]): Unit = ids.foreach(i =>
      sc.getPersistentRDDs.get(i).foreach(_.unpersist(blocking = false)))

    // live state: intra-part edge list, (id, part) actives, emitted SCCs.
    // Self-loops are dropped from the edge list (they never affect SCC
    // membership) but their vertices are kept.
    val eDistinct = e0.distinct()
    var (remaining, remainingIds) =
      cp(eDistinct.where(col("src") =!= col("dst")))
    var (verts, vertsIds) = cp(
      eDistinct.select(col("src").as("id"))
        .union(eDistinct.select(col("dst").as("id")))
        .distinct().withColumn("part", lit(0L)))
    var done = spark.emptyDataset[(Long, Long)].toDF("id", "scc")
    var doneIds = Set.empty[Int]
    // orig -> current id for every vertex contracted away (step 1b);
    // expanded back over `done` on exit
    var contractMap = spark.emptyDataset[(Long, Long)].toDF("orig", "cur")
    var contractMapIds = Set.empty[Int]
    def finish(): DataFrame = done.union(
      contractMap.join(done, contractMap("cur") === done("id"))
        .select(contractMap("orig").as("id"), done("scc")))

    // in-loop driver cutover gate: bytes only — smallGraphThreshold = 0
    // (the probes' force-distributed knob) still guarantees a distributed
    // ENTRY and at least one full round; maxDriverBytes = 0 disables the
    // driver entirely (the pure-distributed differential configuration)
    val cutL = math.min(Int.MaxValue.toLong - 2, maxDriverBytes / 128)

    var round = 0
    while (rows(verts) > 0 && round < maxIterations) {
      round += 1
      onRound(round)

      // 0. driver cutover: each round shrinks the graph (trim, cycle
      // contraction, pivot-SCC removal, pair-splitting) — once the
      // REMAINING intra-part edge set fits the same per-row byte budget
      // as the entry gate, one iterative Tarjan pass finishes the whole
      // remainder exactly: edges are intra-part by construction, so no
      // SCC spans parts and the union is safe to solve in one pass.
      // This is what caps the tail: the bow-tie probe's round-2 core
      // (278k vertices) otherwise costs more distributed fixpoint
      // rounds than the rest of the graph combined.
      if (round > 1 && cutL > 0) {
        val eProbe = remaining.take((cutL + 1).toInt)
        if (eProbe.length <= cutL) {
          val lbl = tarjan(eProbe.map(r => (r.getLong(0), r.getLong(1))))
          val lblDf = spark.createDataFrame(lbl.toSeq).toDF("id", "scc")
          // active vertices on no remaining edge are singleton SCCs
          val singles = verts
            .join(lblDf.select(col("id")), Seq("id"), "left_anti")
            .select(col("id"), col("id").as("scc"))
          done = done.union(lblDf).union(singles)
          free(remainingIds) // edge data now lives on the driver
          return finish()
        }
      }

      // 1. trim loop: no-in or no-out vertices (within their part —
      // edges are already intra-part) are singleton SCCs. Trim is an
      // ACCELERATOR, not a correctness requirement — the label split
      // resolves trivial-SCC chains in O(log) rounds by prefix-minima
      // fragmentation — so it is capped per round: a deep DAG chain
      // would otherwise peel one layer per trim iteration (Θ(depth)
      // iterations, observed on a 100k-deep tendril probe).
      var trimming = true
      var trimIter = 0
      while (trimming && trimIter < 3 && rows(verts) > 0) {
        trimIter += 1
        val (core, coreIds) = cp(verts
          .join(remaining.select(col("src").as("id")), Seq("id"), "left_semi")
          .join(remaining.select(col("dst").as("id")), Seq("id"), "left_semi"))
        // core is a semi-join of verts, so the trim peeled something iff
        // it lost rows
        if (rows(core) == rows(verts)) { trimming = false; free(coreIds) }
        else {
          val trimmed = verts.join(core, Seq("id"), "left_anti")
          val (d2, dIds) = cp(done.union(
            trimmed.select(col("id"), col("id").as("scc"))))
          free(doneIds); done = d2; doneIds = dIds
          free(vertsIds); verts = core; vertsIds = coreIds
          val (r2, rIds) = cp(remaining
            .join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi"))
          free(remainingIds); remaining = r2; remainingIds = rIds
        }
      }
      if (rows(verts) == 0) {
        free(remainingIds); free(vertsIds)
        return finish()
      }

      // 1b. contract pointer-cycles to a fixpoint (see scaladoc). Each
      // pass picks pb(v) = the in-neighbor minimizing a PASS-SALTED hash
      // (self when none) — a functional graph, so r(v) := r(r(v))
      // doubles cleanly: after K doublings with 2^K >= n, r(v) has
      // walked past any tail onto its chain's terminal cycle, and
      // m(v) = min id over the walked hops is, for on-cycle v, the min
      // of the WHOLE cycle (a cycle vertex's orbit is exactly the
      // cycle). Membership: v is on a cycle iff some 2^K-hop walk ENDS
      // at v — walks always end on a cycle, and on the cycle the
      // 2^K-hop map is a bijection, so on-cycle ids are exactly the
      // image of r. Every pointer cycle follows real edges, so
      // contracting it to its min id is SCC-sound unconditionally.
      //
      // Why iterate with fresh salts: a cycle with k in-degree>1
      // vertices is a pointer-cycle only when ALL k of them picked the
      // in-cycle neighbor — each pass re-rolls those choices, so a
      // chain of rings contracts geometrically (~half its remaining
      // rings per pass) instead of stalling after one pass. Passes stop
      // when no cycle is found (a DAG never has one) or when a pass
      // contracts <5% of the vertices: inside a DENSE strongly
      // connected region the pointer graph is a near-random mapping
      // whose cycles cover only ~sqrt(n) vertices, so passes would
      // crawl — but such regions are exactly the small-diameter ones
      // the label fixpoint resolves quickly, and a handful of leftover
      // thin cycles costs the fixpoint at most their individual
      // lengths in edge-term iterations.
      var contracting = true
      var pass = 0
      while (contracting && pass < 40) {
        pass += 1
        val nVerts = rows(verts)
        val kDoubles = 64 - java.lang.Long.numberOfLeadingZeros(
          math.max(nVerts - 1, 1)) // ceil(log2 n)
        val pbSeed0 = remaining
          .select(col("dst").as("id"), col("src"),
            xxhash64(col("src"), lit(round * 41L + pass)).as("h"))
          .groupBy("id")
          .agg(min_by(col("src"), struct(col("h"), col("src"))).as("pb"))
        var (rm, rmIds) = cp(verts.join(pbSeed0, Seq("id"), "left")
          .select(col("id"), coalesce(col("pb"), col("id")).as("r"),
            col("id").as("m")))
        // Doubling with an EXACT early stop: the image of r is monotone
        // shrinking across doublings (off-cycle w is in the image of the
        // 2^k-hop map iff its longest inverse pb-chain S(w) >= 2^k; cycle
        // vertices are always in it), and a COUNT plateau between two
        // consecutive doublings certifies the image is exactly the cycle
        // set: if any off-cycle S >= 2^k survived, the minimal such S
        // would have to lie in [2^k, 2^{k+1}) (walk one step down its
        // longest chain — a smaller qualifying S, or a longer chain into
        // the original vertex, contradiction either way), and that
        // vertex would witness a count drop. So stopping at a plateau
        // keeps onCycle membership exact. The m-fold may then cover only
        // a PREFIX of a long cycle's orbit — still sound: for on-cycle v
        // every prefix element is on v's own cycle (same SCC), m is
        // monotone (m(v) <= id), and the cycle's true minimum M keeps
        // m(M) = M, so M never contracts away — a partially-folded giant
        // cycle contracts to its window-local minima and later passes /
        // the label fixpoint absorb the shortened remainder. Payoff: the
        // loop runs ~log2(longest pb-tail) joins instead of log2(n) —
        // the salted pb choices make long tails exponentially unlikely,
        // so this is most of the doublings on dense cores (tails
        // ~sqrt(n)) and nearly all of them on ring-of-rings shapes.
        // A floor of 8 doublings (256-hop window) runs before the plateau
        // may exit: a chordless giant ring plateaus at the SECOND doubling
        // (its image is always the whole ring), and a 4-hop fold window
        // would contract it by only ~20% per pass — the 256-hop window
        // keeps one pass removing ~99.6% of a pure ring at 8 joins, while
        // dense cores (plateau ~log2 sqrt(n) > 8) lose nothing.
        val minDoubles = math.min(8, kDoubles.toInt)
        var prevImage = -1L
        var kd = 0
        while (kd < kDoubles.toInt) {
          kd += 1
          val (rm2, rm2Ids) = cp(rm
            .join(rm.select(col("id").as("r"), col("m").as("m2"),
              col("r").as("r2")), Seq("r"))
            .select(col("id"), col("r2").as("r"),
              least(col("m"), col("m2")).as("m")))
          free(rmIds); rm = rm2; rmIds = rm2Ids
          if (kd >= minDoubles && kd < kDoubles.toInt) {
            val image = rm.select(countDistinct(col("r"))).head().getLong(0)
            if (image == prevImage) kd = kDoubles.toInt // exact plateau: done
            prevImage = image
          }
        }
        val onCycle = rm
          .join(rm.select(col("r").as("id")).distinct(), Seq("id"), "left_semi")
        // CHAIN-FREE rep map: with a partially-folded m, v -> x and
        // x -> y can both appear (x is a window-local min that itself
        // sees a smaller one). Applying such a map one step would leave
        // x BOTH contracted (a contractMap entry) and alive (as v's
        // image), and finish() would emit x's rows twice — the one-step
        // rewrites below are only sound on a map whose targets are all
        // survivors. Dropping entries whose target is itself contracted
        // restores that invariant (the dropped vertices contract next
        // pass instead), and makes nReps the EXACT vertex-count
        // reduction, so the <5% progress gate measures real shrinkage.
        val reps = onCycle.where(col("id") =!= col("m"))
          .select(col("id"), col("m").as("rep"))
          .join(onCycle.where(col("id") =!= col("m"))
            .select(col("id").as("rep")), Seq("rep"), "left_anti")
        val nReps = reps.count()
        // stop at <5% contracted: a pass costs ceil(log2 n) checkpointed
        // doubling joins, and what a marginal pass leaves behind is
        // absorbed by the label fixpoint at O(log diameter) — the
        // position-independent doubling fold resolves an uncontracted
        // ring of ANY length in log2(len) iterations, so trading a whole
        // 20-join pass for a few fixpoint iterations is the wrong side
        // of the ledger. Measured on the 1.2M-edge bow-tie probe: the
        // old 0.5% floor ran NINE passes (~50% of round-1 wall) whose
        // passes 2-8 each shaved only a few % of the dense core
        if (nReps < math.max(1L, nVerts / 20)) contracting = false
        if (nReps > 0) {
          val (v2c, v2cIds) = cp(verts.join(reps, Seq("id"), "left")
            .select(coalesce(col("rep"), col("id")).as("id"), col("part"))
            .distinct())
          val (r2c, r2cIds) = cp(remaining
            .join(reps.select(col("id").as("src"), col("rep").as("srcRep")),
              Seq("src"), "left")
            .join(reps.select(col("id").as("dst"), col("rep").as("dstRep")),
              Seq("dst"), "left")
            .select(coalesce(col("srcRep"), col("src")).as("src"),
              coalesce(col("dstRep"), col("dst")).as("dst"))
            .where(col("src") =!= col("dst")).distinct())
          // compose the lift-back mapping: redirect existing entries
          // whose `cur` was just contracted, then add the newly
          // contracted ids (every current id is an original vertex id,
          // so new (id, rep) pairs are added verbatim)
          val (cm2, cm2Ids) = cp(contractMap
            .join(reps.select(col("id").as("cur"), col("rep")),
              Seq("cur"), "left")
            .select(col("orig"), coalesce(col("rep"), col("cur")).as("cur"))
            .union(reps.select(col("id").as("orig"), col("rep").as("cur"))))
          free(contractMapIds); contractMap = cm2; contractMapIds = cm2Ids
          free(vertsIds); verts = v2c; vertsIds = v2cIds
          free(remainingIds); remaining = r2c; remainingIds = r2cIds
        }
        free(rmIds)
      }

      // 2. forward/backward reach-min fixpoints, accelerated by DOUBLING
      // pointers. key(v) = (xxhash64(id), id) — the id tie-break makes
      // the min unique even under hash collisions. b = min key over
      // vertices reaching v (the `o` field carries the argmin vertex id,
      // used by the split below), f = min key over vertices v reaches.
      //
      // The acceleration pointer is SEPARATE from the min: pb(v) is an
      // arbitrary ancestor of v (seeded with v's min in-neighbor) that
      // purely doubles each iteration — pb(v) := pb(pb(v)) — while b
      // folds both the edge-neighborhood min and b(pb(v)). Folding via
      // the min's OWN owner (the previous design) degenerates to one
      // edge-hop per iteration once a region shares an owner: the shared
      // owner's window then grows only through its own edge term, and a
      // 3000-cycle took 33 iterations, a 10k-deep ring chain thousands
      // (measured — the round-9 probe crawl). A pure doubling chain is
      // position-independent: after t iterations pb(v) is ~2^t hops up,
      // so the fold covers the whole ancestor set in O(log diameter).
      //
      // Correctness needs only the EDGE term: at a b-stall, b(dst) <=
      // b(src) along every edge, which transitively bounds b(v) by every
      // ancestor's key. The chain fold is sound (pb(v) is an ancestor,
      // so b(pb(v)) mins over a subset of v's ancestors) and a b-stall
      // is a true fixpoint: if no b changed this iteration, each pb(v)
      // already folded b(pb(pb(v))) into b(pb(v)) <= b(v)'s view, so
      // future doubled folds are dominated — p-movement alone can never
      // resurface a smaller min.
      val key = struct(xxhash64(col("id")).as("k"), col("id").as("o"))
      val pb0 = remaining.groupBy(col("dst").as("id")).agg(min("src").as("pb"))
      val pf0 = remaining.groupBy(col("src").as("id")).agg(min("dst").as("pf"))
      var (state, stateIds) = cp(verts
        .join(pb0, Seq("id"), "left").join(pf0, Seq("id"), "left")
        .select(col("id"), col("part"), key.as("b"), key.as("f"),
          coalesce(col("pb"), col("id")).as("pb"),
          coalesce(col("pf"), col("id")).as("pf")))
      // run to CONVERGENCE, not to a cap: the split below is only
      // correct on fully-converged labels (a capped fixpoint silently
      // fragments SCCs). Termination is guaranteed — b/f decrease
      // monotonically over a finite key set. The huge cap exists only
      // to fail LOUDLY if that invariant is ever broken.
      var changed = true
      var iter = 0
      while (changed) {
        iter += 1
        if (iter > 100000) throw new IllegalStateException(
          "SCC label fixpoint failed to converge in 100000 iterations — " +
            "monotonicity invariant broken, refusing to split on " +
            "non-converged labels")
        val viaEdgeB = remaining
          .join(state.select(col("id").as("src"), col("b")), Seq("src"))
          .groupBy(col("dst").as("id")).agg(min(col("b")).as("eb"))
        val viaEdgeF = remaining
          .join(state.select(col("id").as("dst"), col("f")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min(col("f")).as("ef"))
        // one join serves both the chain fold (jb) and the doubling (pb2)
        val viaChainB = state.select(col("id"), col("pb"))
          .join(state.select(col("id").as("pb"), col("b").as("jb"),
            col("pb").as("pb2")), Seq("pb"))
          .select(col("id"), col("jb"), col("pb2"))
        val viaChainF = state.select(col("id"), col("pf"))
          .join(state.select(col("id").as("pf"), col("f").as("jf"),
            col("pf").as("pf2")), Seq("pf"))
          .select(col("id"), col("jf"), col("pf2"))
        val nb = least(col("b"), coalesce(col("eb"), col("b")),
          coalesce(col("jb"), col("b")))
        val nf = least(col("f"), coalesce(col("ef"), col("f")),
          coalesce(col("jf"), col("f")))
        // convergence is read off a `chg` column materialized WITH the
        // new state (old b/f are in scope pre-projection) — no extra
        // compare join per iteration, just a take(1) over the
        // checkpointed rows
        val (next, nextIds) = cp(state
          .join(viaEdgeB, Seq("id"), "left")
          .join(viaEdgeF, Seq("id"), "left")
          .join(viaChainB, Seq("id"), "left")
          .join(viaChainF, Seq("id"), "left")
          .select(col("id"), col("part"), nb.as("nb"), nf.as("nf"),
            coalesce(col("pb2"), col("pb")).as("npb"),
            coalesce(col("pf2"), col("pf")).as("npf"),
            (nb =!= col("b") || nf =!= col("f")).as("chg"))
          .withColumnRenamed("nb", "b").withColumnRenamed("nf", "f")
          .withColumnRenamed("npb", "pb").withColumnRenamed("npf", "pf"))
        changed = next.where(col("chg")).take(1).nonEmpty
        free(stateIds)
        state = next.drop("chg"); stateIds = nextIds
      }

      // 3. split: pivot key per part = min b (the part's key-minimum
      // vertex reaches at least itself); emit SCC(pivot), route the
      // rest to parts derived from the (B-owner, F-owner) label PAIR.
      // SCC members share B and F exactly (mutual reachability ⟹
      // identical reaching and reachable sets), so the pair split
      // never severs an SCC; it refines the classic D/U/R regions
      // (descendants all carry B = pivot, ancestors F = pivot, the
      // remainder neither — the pair distinguishes all three), and —
      // crucially — it fragments DISCONNECTED remainders into
      // independent parts in one round at zero extra cost: a bag of k
      // mutually-unreachable components would otherwise shed one
      // pivot SCC per round (Θ(k) rounds — observed on the bow-tie
      // probe's 20k in-rings before this refinement). Hash collisions
      // between part ids only MERGE two edge-disjoint subproblems —
      // the merged pivot's split strands the other subgraph in its
      // own label class, so correctness is unaffected.
      val pm = state.groupBy(col("part")).agg(min(col("b")).as("pm"))
      val labeled = state.join(pm, Seq("part"))
      val members = labeled
        .where(col("b") === col("pm") && col("f") === col("pm"))
        .select(col("part"), col("id"))
      val sccLabel = members.groupBy(col("part")).agg(min(col("id")).as("scc"))
      val (d2, dIds) = cp(done.union(
        members.join(sccLabel, Seq("part")).select(col("id"), col("scc"))))
      free(doneIds); done = d2; doneIds = dIds

      val (v2, vIds) = cp(labeled
        .where(col("b") =!= col("pm") || col("f") =!= col("pm"))
        .select(col("id"),
          xxhash64(col("part"), col("b.o"), col("f.o")).as("part")))
      free(vertsIds); free(stateIds); verts = v2; vertsIds = vIds

      val (r2, rIds) = cp(remaining
        .join(verts.select(col("id").as("src"), col("part").as("ps")), Seq("src"))
        .join(verts.select(col("id").as("dst"), col("part").as("pd")), Seq("dst"))
        .where(col("ps") === col("pd"))
        .select(col("src"), col("dst")))
      free(remainingIds); remaining = r2; remainingIds = rIds
    }
    // maxIterations bounds OUTER rounds only; exceeding it means the
    // recursion is pathologically unbalanced (expected depth is
    // logarithmic — every part sheds its pivot's SCC per round). Wrong
    // labels must never ship silently, so this fails loudly.
    if (rows(verts) > 0) throw new IllegalStateException(
      s"SCC divide-and-conquer did not finish within $maxIterations " +
        "rounds; raise maxIterations")
    finish()
  }

  /** Iterative Tarjan (explicit stacks — no recursion depth limit),
    * returning id -> min-member-id. Exposed for the spec's differential
    * check against the distributed path. */
  def tarjan(edgeList: Array[(Long, Long)]): Map[Long, Long] = {
    val ids = (edgeList.map(_._1) ++ edgeList.map(_._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val adj = Array.fill(n)(List.empty[Int])
    edgeList.foreach { case (s, d) => adj(idx(s)) ::= idx(d) }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = scala.collection.mutable.ArrayBuffer[Int]()
    val comp = new Array[Int](n)
    var counter = 0
    var nComp = 0
    for (start <- 0 until n if index(start) < 0) {
      // work stack of (vertex, remaining adjacency)
      var work = List((start, adj(start)))
      index(start) = counter; low(start) = counter; counter += 1
      stack += start; onStack(start) = true
      while (work.nonEmpty) {
        val (v, rest) = work.head
        rest match {
          case w :: tail =>
            work = (v, tail) :: work.tail
            if (index(w) < 0) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack(w) = true
              work = (w, adj(w)) :: work
            } else if (onStack(w)) low(v) = math.min(low(v), index(w))
          case Nil =>
            work = work.tail
            work match {
              case (p, _) :: _ => low(p) = math.min(low(p), low(v))
              case Nil =>
            }
            if (low(v) == index(v)) {
              var done = false
              while (!done) {
                val w = stack.remove(stack.length - 1)
                onStack(w) = false
                comp(w) = nComp
                if (w == v) done = true
              }
              nComp += 1
            }
        }
      }
    }
    // scc label = min member id
    val minOf = new Array[Long](nComp)
    java.util.Arrays.fill(minOf, Long.MaxValue)
    for (i <- 0 until n) minOf(comp(i)) = math.min(minOf(comp(i)), ids(i))
    ids.indices.map(i => ids(i) -> minOf(comp(i))).toMap
  }
}

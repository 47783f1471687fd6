package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Prefix-filtered set-similarity join (PPJoin family: Chaudhuri et al.
  * ICDE 2006 prefix filter; Xiao et al. WWW 2008 positional filter).
  * Exact output: unordered pairs (id1 < id2) whose distinct-token Jaccard
  * similarity exceeds `num/den` (strict, integer-exact — no float in the
  * decision).
  *
  * Why this beats token blocking at 100 TB: blocking
  * (`Resolution.tokenBlockingCandidates*`) keys candidates on EVERY
  * shared token, so candidate volume is Σ_tok df² and the hot end of the
  * vocabulary must be capped or dropped to survive. Prefix filtering
  * instead orders each record's tokens by GLOBAL rarity and keys only on
  * the first |x| − ⌈τ·|x|⌉ + 1 of them: a pair sharing no prefix token
  * provably falls below τ, so completeness needs no cap, the per-token
  * fan-out concentrates on the rare end (the hot-token skew never enters
  * the shuffle), and the candidate set shrinks toward the true result as
  * τ → 1. Three candidate-side filters compose:
  *
  *  - prefix filter: join only on the rarity-ordered prefix;
  *  - length filter: den·min(|x|,|y|) > num·max(|x|,|y|) (else even
  *    containment is below τ);
  *  - positional filter: from the matched prefix positions the overlap is
  *    at most 1 + min(|x|−px, |y|−py), which must still clear the
  *    intersection bound den·i > num·(|x|+|y|−i).
  *
  * Survivors are verified exactly (array_intersect on the two distinct
  * token sets), so every filter is a pure pruning step — the result is
  * identical to the all-pairs join the oracle states.
  */
object SetSimJoin {

  /** Tokens = distinct non-empty `[\s[:punct:]]+`-separated words (the
    * q17/q19 tokenizer, restated verbatim by the DuckDB oracle). */
  def jaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      num: Int,
      den: Int): DataFrame = {
    // Widen before the tokenize: a one-row-group corpus would otherwise
    // run the regex split serially on one task (guide §2.5 input skew);
    // byte-gated, so corpus-scale inputs pass through unshuffled.
    val toks = graft.plans.Widen(df, factor = 2).select(
      col(idCol).as("id"),
      array_distinct(filter(
        split(col(textCol), "[\\s\\p{Punct}]+"), t => length(t) > 0))
        .as("toks"))
    jaccardPairsTokens(toks, "id", "toks", num, den)
  }

  /** Core join over a prepared (id, distinct-token-array) frame.
    *
    * PRECONDITION (ADVICE r15): token arrays must be DISTINCT per
    * record — [[jaccardPairs]] guarantees it via array_distinct; a
    * caller passing duplicate tokens gets duplicate tids in the encoded
    * arrays, which breaks the exactly-once candidate emission (several
    * mentions of a pair can then satisfy the min-common test) and
    * inflates the intersection counts the threshold decides on. Both
    * dictionary builds treat duplicates identically, so the failure
    * mode is at least deterministic — but it is out of contract. */
  def jaccardPairsTokens(
      df: DataFrame,
      idCol: String,
      toksCol: String,
      num: Int,
      den: Int): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"need 0 <= num/den <= 1")
    // sorted feeds the candidate join and BOTH sides of the verify join;
    // the lazy checkpoint materializes the encode+sort (incl. the
    // dictionary build) once instead of three times
    val sorted = rankSorted(df, idCol, toksCol).localCheckpoint(false)
    verifyPairs(sorted, candidatePairs(sorted, num, den), num, den)
  }

  /** Input-stats gate for the broadcast-dictionary encode: below this
    * the vocabulary is collected to the driver and token→tid mapping is
    * one narrow pass; above it the distributed join path runs. 64 MB of
    * raw text bounds the collected (token, df) table comfortably within
    * driver memory — the same bounded-collect pattern as the dedup
    * stats gate. */
  private[graft] val DictBroadcastMaxBytes: Long = 1L << 26

  /** (id, tid-array sorted by global rarity, n): tokens dictionary-encoded
    * to long ids ordered by (document frequency, token). The int
    * encoding is what keeps the verify join cheap — candidate pairs ship
    * two long-arrays, not two string-arrays, and intersection compares
    * 8-byte words. Two byte-gated builds of the SAME order: a broadcast
    * dictionary for small inputs, a vocabulary-scaling sort + join past
    * the gate. */
  private[graft] def rankSorted(
      df: DataFrame, idCol: String, toksCol: String): DataFrame = {
    val recs = df.select(col(idCol).as("id"), col(toksCol).as("toks"))
      .where(size(col("toks")) > 0)
    val stats = recs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (stats < DictBroadcastMaxBytes) rankSortedBroadcast(recs)
    else rankSortedJoin(recs)
  }

  /** Small-input fast path: collect the (token, df) vocabulary, assign
    * dense ids in (df, token) order on the driver — the IDENTICAL
    * encoding the join path's sort produces — and map each record's
    * tokens through the broadcast dictionary in one narrow pass. This
    * removes the dictionary join and the (id, tid) regroup shuffle
    * plus their serial AQE stages (guide §5: at bench scale q133's
    * wall was ~75% driver latency across 11 jobs, ~0.6 s of task
    * time). Byte-gated: corpus-scale inputs take [[rankSortedJoin]],
    * whose dictionary build scales as the vocabulary. */
  private[graft] def rankSortedBroadcast(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    // pin the tokenized records: the vocabulary collect below and the
    // encode pass must read ONE evaluation (a nondeterministic upstream
    // source would otherwise diverge between them), and the upstream
    // tokenize runs once instead of twice
    val pinned = recs.localCheckpoint(false)
    val freq = pinned.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
      .as[(String, Long)].collect()
    // dense ids in (df, tok) order — same total order as the join path,
    // whose sort compares tokens as unsigned UTF-8 bytes (UTF8String),
    // not as UTF-16 code units (they differ on non-BMP characters)
    val ordered = freq.sortBy { case (t, d) => (d, UTF8String.fromString(t)) }
    val dict = new java.util.HashMap[String, java.lang.Long](ordered.length * 2)
    var i = 0L
    ordered.foreach { case (t, _) => dict.put(t, i); i += 1 }
    val dictB = spark.sparkContext.broadcast(dict)
    val encode = udf { toks: Seq[String] =>
      val m = dictB.value
      val arr = new Array[Long](toks.length)
      var j = 0
      toks.foreach { t =>
        val tid = m.get(t)
        if (tid == null) throw new IllegalStateException(s"token not in the dictionary: $t")
        arr(j) = tid; j += 1
      }
      java.util.Arrays.sort(arr)
      arr
    }
    pinned.select(col("id"), encode(col("toks")).as("tids"))
      .select(col("id"), col("tids"), size(col("tids")).as("n"))
  }

  private[graft] def rankSortedJoin(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    import spark.implicits._
    // Tokenization (often a regex split upstream) and the explode run
    // ONCE: the exploded (id, tok) stream feeds both the frequency count
    // and the dictionary re-join from this checkpoint.
    val exploded = recs
      .select(col("id"), explode(col("toks")).as("tok"))
      .localCheckpoint(false)

    // Global document frequency per token — the rarity order. One narrow
    // count shuffle over (token) keys.
    val freq = exploded.groupBy("tok").agg(count(lit(1)).as("df"))

    // DENSE ids in (df, tok) order: range-partitioned sort +
    // zipWithIndex. An r16 A/B replaced this with
    // monotonically_increasing_id (no count job, no RDD round-trip) and
    // the setsim50k probe's VERIFY leg regressed multi-×: the verify
    // joins ship two tid-arrays per candidate (31 M candidates at 50 k
    // docs), and dense small longs compress ~8× under the shuffle codec
    // where partition-major ids (high bits set by partitionId << 33)
    // barely compress at all. zipWithIndex's vocabulary-scale count job
    // is noise next to that at any corpus size — density IS the
    // optimization on this path (guide §2.3 "narrower types"). Bench-
    // sized inputs take [[rankSortedBroadcast]] (dense by construction,
    // no sort/count/join at all).
    val dict = freq.orderBy(col("df"), col("tok")).select(col("tok"))
      .as[String].rdd.zipWithIndex
      .toDF("tok", "tid")

    // Rarity-sort each record's tokens: join the dictionary onto the
    // exploded tokens, regroup, sort the long ids. The regroup shuffles
    // (id, tid) pairs only.
    exploded
      .join(dict, "tok")
      .groupBy("id")
      .agg(array_sort(collect_list(col("tid"))).as("tids"))
      .select(col("id"), col("tids"), size(col("tids")).as("n"))
  }

  /** Candidate pairs from the rarity-ordered prefix equi-join; length and
    * positional filters applied inside the join so pruned pairs never
    * leave it.
    *
    * EXACTLY-ONCE emission (r15): a pair sharing m prefix tokens used to
    * leave the join m times and pay a corpus-scale (id1, id2) distinct
    * exchange (3.7M mention rows / 85 MB on the sf0.1 bench corpus, the
    * query's dominant shuffle). Each prefix row now carries its record's
    * (short — |prefix| ≈ n/den·(den−num)+1) prefix array, and the join
    * keeps a mention only when the matched tid IS the minimum common
    * prefix token, so every qualifying pair is emitted exactly once and
    * the distinct disappears. Soundness: the min common tid has the
    * EARLIEST positions on both sides (arrays ascend), so its positional
    * bound is the loosest — if any mention of a pair passes the filters,
    * the min-common mention does; the candidate set is identical to the
    * any-mention-survives semantics of the old distinct. */
  private[graft] def candidatePairs(
      sorted: DataFrame, num: Int, den: Int): DataFrame = {
    // Prefix length for J > num/den: p = n − ⌈n·num/den⌉ + 1, with the
    // ceiling as pure integer arithmetic ((n·num + den − 1) div den).
    // Records sharing no token among their first p never reach the
    // threshold.
    val p = (col("n") - expr(s"(n * $num + ${den - 1}) div $den") + lit(1))
      .cast("int")
    // No pinned repartition by tid (r15): hash(tid)-partitioning
    // CONCENTRATED the join — near-dup families share their rare prefix
    // tokens, so a handful of tid partitions evaluated nearly all
    // mention rows (measured: the fused join stage ran 3.5 task-seconds
    // on ~2 effective cores). Left on the sorted table's id-spread
    // partitioning, the runtime broadcast join evaluates each pair's
    // mentions where its a-side rows live — balanced by id hash; at
    // scale the planner's own tid exchanges (sort-merge) reintroduce
    // the skew only where AQE's skew-join splitting handles it.
    val prefix = sorted
      .select(col("id"), col("n"), slice(col("tids"), lit(1), p).as("prefix"))
      .select(col("id"), col("n"), col("prefix"),
        posexplode(col("prefix")).as(Seq("pos0", "tid")))
      .select(col("id"), col("n"), col("prefix"), col("tid"),
        (col("pos0") + 1).as("pos")) // 1-based position in the sorted set

    val ub = lit(1) + least(col("a.n") - col("a.pos"), col("b.n") - col("b.pos"))
    // byte-gated round-robin widen of the STREAMED side only: on a small
    // corpus the runtime broadcast join would otherwise fuse onto an
    // AQE-coalesced single partition (all mention evaluation on one
    // task); round-robin spreads mentions evenly — hash(tid) cannot, the
    // hot prefix tokens ARE the skew. At scale the gate passes the frame
    // through and the planner's own tid exchanges take over.
    val streamed = graft.plans.Widen(prefix, factor = 2)
    streamed.alias("a")
      .join(prefix.alias("b"),
        col("a.tid") === col("b.tid") && col("a.id") < col("b.id") &&
          lit(den) * least(col("a.n"), col("b.n")) >
            lit(num) * greatest(col("a.n"), col("b.n")) &&
          lit(den) * ub > lit(num) * (col("a.n") + col("b.n") - ub) &&
          // "matched tid is the min common prefix token" ⟺ no common
          // element below it: the native allocation-free merge scan —
          // array_min(array_intersect(...)) built a hash set + result
          // array per MENTION, millions of allocations concentrated on
          // the hot-token tasks (a measured 2.3 s straggler stage)
          call_function("sorted_no_common_below",
            col("a.prefix"), col("b.prefix"), col("a.tid")))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
  }

  /** Asymmetric CONTAINMENT join: pairs where |x ∩ y| / |x| exceeds
    * num/den — x is mostly inside y, whatever y's size. The quotation /
    * partial-copy / subset-record detector: Jaccard misses a 50-token
    * quote inside a 5000-token article (J ≈ 1%), containment flags it.
    *
    * Same machinery as the Jaccard join with two deliberate changes:
    * the prefix bound comes from the CONTAINED side only (a pair whose
    * shared tokens all sit past x's first |x| − ⌈τ|x|⌉ + 1 rarest
    * tokens cannot reach τ·|x| overlap), and there is NO length filter
    * — asymmetry is the point. Output: (id_small, id_big, inter, n_small)
    * for both orientations of each qualifying pair (containment is
    * directional; callers filter on direction if they want one). */
  def containmentPairsTokens(
      df: DataFrame,
      idCol: String,
      toksCol: String,
      num: Int,
      den: Int): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"need 0 <= num/den <= 1")
    val sorted = rankSorted(df, idCol, toksCol).localCheckpoint(false)

    val p = (col("n") - expr(s"(n * $num + ${den - 1}) div $den") + lit(1))
      .cast("int")
    // contained side: prefix only, with its 1-based array position (the
    // positional filter below needs it); containing side: EVERY token
    // (any of them can be the match that keeps x's overlap alive).
    // No pinned hash(tid) repartition (r16, mirroring the r15 jaccard
    // fix): near-dup families share their rare prefix tokens, so pinning
    // by tid concentrated the mention evaluation on a handful of
    // partitions; the planner's own exchanges (AQE-coalescible,
    // skew-splittable) take over at scale, and the byte-gated widen
    // spreads the streamed side locally.
    val prefix = sorted.select(col("id"), col("n"),
      posexplode(slice(col("tids"), lit(1), p)).as(Seq("pos0", "tid")))
      .select(col("id"), col("n"), col("tid"), (col("pos0") + 1).as("pos"))
    val full = sorted.select(col("id"), explode(col("tids")).as("tid"))

    // Positional filter (r16, guide §2.3 "shuffle fewer bytes"): for the
    // mention whose tid is the MIN common element of (prefix(x), y), no
    // earlier prefix token of x is in y, so |x ∩ y| ≤ n − pos + 1. A
    // qualifying pair (|x ∩ y| ≥ ⌊num·n/den⌋ + 1) therefore always keeps
    // its min-common mention under the strict bound
    // den·(n − pos + 1) > num·n — the filter can only drop mentions of
    // pairs that were going to fail exact verification anyway, so the
    // OUTPUT is provably unchanged while the candidate/distinct volume
    // shrinks. (Full exactly-once emission — the r15 jaccard trick —
    // does NOT port: the min-common test needs the CONTAINING side's
    // whole token array on every exploded row, Σ|y|² shuffle bytes at
    // scale, strictly worse than the distinct it would remove.)
    val streamed = graft.plans.Widen(prefix, factor = 2)
    val cands = streamed.alias("a")
      .join(full.alias("b"),
        col("a.tid") === col("b.tid") && col("a.id") =!= col("b.id") &&
          lit(den) * (col("a.n") - col("a.pos") + lit(1)) >
            lit(num) * col("a.n"))
      .select(col("a.id").as("id_small"), col("b.id").as("id_big"))
      // one hash(id_small) exchange serves the dedup (clustering by a
      // subset of the distinct keys still co-locates every group) AND
      // the first verify join right after it (guide §2.4)
      .repartition(col("id_small"))
      .distinct()

    val sets = sorted.select(col("id"), col("tids"), col("n"))
    // den·i > num·n_small ⟺ i ≥ num·n_small div den + 1
    val minInter = expr(s"(cast($num as bigint) * n_small) div $den + 1")
    cands
      .join(sets.select(col("id").as("id_small"), col("tids").as("t1"),
        col("n").as("n_small")), "id_small")
      .join(sets.select(col("id").as("id_big"), col("tids").as("t2")), "id_big")
      .select(col("id_small"), col("id_big"),
        call_function("sorted_intersect_size", col("t1"), col("t2"),
          minInter).as("inter"),
        col("n_small"))
      .where(lit(den) * col("inter") > lit(num) * col("n_small"))
  }

  /** Exact verification: ship the two encoded arrays to each surviving
    * candidate pair and intersect. Integer-exact threshold.
    *
    * Intersection via the native `sorted_intersect_size` merge scan
    * (the arrays are ascending dictionary ids by construction) with the
    * pair's threshold bound passed down for early exit:
    * den·i > num·(n1+n2−i) ⟺ i·(den+num) > num·(n1+n2) ⟺
    * i ≥ num·(n1+n2) div (den+num) + 1 = minInter. The expression's
    * count is exact for every pair that can reach minInter, so the
    * filter is decision-identical to intersecting in full (generic
    * `array_intersect` builds a hash set per pair and measured 2-4x
    * slower on the q133 bench corpus). */
  private[graft] def verifyPairs(
      sorted: DataFrame, cands: DataFrame, num: Int, den: Int): DataFrame = {
    val sets = sorted.select(col("id"), col("tids"), col("n"))
    val minInter = expr(
      s"(cast($num as bigint) * (n1 + n2)) div ${den + num} + 1")
    cands
      .join(sets.select(col("id").as("id1"), col("tids").as("t1"), col("n").as("n1")), "id1")
      .join(sets.select(col("id").as("id2"), col("tids").as("t2"), col("n").as("n2")), "id2")
      .select(col("id1"), col("id2"),
        call_function("sorted_intersect_size", col("t1"), col("t2"),
          minInter).as("inter"),
        col("n1"), col("n2"))
      .where(lit(den) * col("inter") > lit(num) * (col("n1") + col("n2") - col("inter")))
      .select(col("id1"), col("id2"), col("inter"),
        (col("n1") + col("n2") - col("inter")).cast("long").as("uni"))
  }
}

package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k for a bounded probe set (exact,
  * O(|probes| * n) — the right plan when probes are few and broadcastable).
  * Scale path: sign-random-projection LSH bucketing (`lshTopK`) and a
  * centroid-routed IVF variant (`ivfTopK`) so the candidate set per probe is
  * a small bucket, not the full corpus. All vector math is codegen'd
  * `aggregate`/`zip_with` over array columns in double precision.
  */
object Ann {

  /** Cosine similarity of two float-array columns, computed in double.
    * A zero-norm side yields 0.0 — the SAME rule every JVM kernel here
    * applies ([[assignNearest]], the knnJoin cogroup): without the guard
    * a degenerate all-zero embedding made this 0/0 — a silent null under
    * legacy SQL mode, a job-killing DIVIDE_BY_ZERO under ANSI (the
    * Spark 4 default), and in both cases a divergence from the kernels
    * that broke the knnJoin ≡ bruteForceTopK exactness contract on
    * corpora containing a zero vector. */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0d), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(b, x => x.cast("double") * x.cast("double")),
      lit(0d), (acc, v) => acc + v))
    when(na === 0d || nb === 0d, lit(0d)).otherwise(dot / (na * nb))
  }

  /** L2 norm of a float-array column (computed in double, one pass). */
  def l2norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x.cast("double") * x.cast("double")),
      lit(0d), (acc, x) => acc + x))

  /** The probe/corpus id contract (ADVICE r15): every kernel here casts
    * the id column to long, so a non-integral id (e.g. string) would
    * cast to null and the rows would silently vanish from results
    * instead of failing loudly — same contract as InvertedIndex.build. */
  private[similarity] def requireIntegralId(df: DataFrame, idCol: String,
      ctx: String): Unit = {
    val t = df.schema(idCol).dataType
    require(Seq("long", "integer", "short", "byte").contains(t.typeName),
      s"$ctx needs an integral id column; '$idCol' is $t " +
        "(map string ids to longs — e.g. xxhash64 — first)")
  }

  /** HALF_UP rounding to 9 decimal places, bit-identical to
    * `BigDecimal(raw).setScale(9, HALF_UP).toDouble` (the rule every
    * similarity here ranks by, and what Catalyst's `round(col, 9)`
    * computes) — without the per-pair BigDecimal allocation chain the
    * kNN kernels used to pay: the q199 cogroup measured 4.2 task-seconds
    * for 4M pairs, most of it decimal arithmetic, not dot products
    * (guide §1.2 "per-task work").
    *
    * Fast path: with y = |raw|·1e9 and t = y + 0.5, the accumulated
    * double error versus the exact decimal value is < 2e-7 (one
    * multiplication and one addition at magnitude ≤ ~1e9), so whenever
    * t sits ≥ 1e-4 away from an integer (and t < 1e11, i.e. |raw| below
    * 100, where the error stays below 2e-5; every caller passes a
    * cosine in [-1, 1]), n = ⌊t⌋ is provably the exact
    * HALF_UP digit and n / 1e9 — an exact-operand IEEE division (both n
    * and 1e9 are exactly representable) — is the correctly-rounded
    * double of n·10⁻⁹, the same value BigDecimal's toDouble returns.
    * Boundary-proximate values (~0.02% of uniform inputs) take the
    * original BigDecimal path. Sign is split out first; HALF_UP is
    * symmetric (away from zero), so rounding the magnitude is identical.
    * Equality with the reference is spec-pinned across random sweeps and
    * adversarial boundary values (Round9Spec). */
  @inline private[similarity] def round9(raw: Double): Double = {
    val neg = raw < 0
    val a = if (neg) -raw else raw
    val t = a * 1e9 + 0.5
    val n = math.floor(t)
    val d = t - n
    if (d > 1e-4 && d < 1 - 1e-4 && t < 1e11) {
      val r = n / 1e9
      // BigDecimal has no negative zero: a negative value rounding to
      // zero must come back as +0.0, not -0.0
      if (neg && r != 0.0) -r else r
    } else
      BigDecimal(raw).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Exact top-k cosine neighbors for each probe row. Ranking is on
    * similarity rounded to 9 places with id tiebreak, so results are
    * deterministic across engines.
    *
    * SERVING-ONLY CONTRACT: the probe set is `collect()`ed to the driver
    * and broadcast ([[scoredPairs]]) — right for a bounded query batch
    * hitting a large corpus, WRONG when the probe set is itself
    * corpus-sized (SemDeDup, hard-negative mining over the full training
    * set): the collect OOMs the driver long before 100 TB. For
    * corpus-as-probes workloads use [[knnJoin]], which co-partitions both
    * sides through the IVF index and never materializes either on the
    * driver.
    *
    * Plan shape: vectors are exploded to (id, dim, value) rows and the
    * dot products computed as a dim-equi-join + sum aggregate — all
    * whole-stage-codegen'd. (The lambda/HOF formulation in [[cosine]] runs
    * interpreted and is ~6x slower; keep HOFs for one-pass per-row math
    * like norms, not for the pair expansion.) Norms are precomputed per
    * vector. Output: (probe_id, neighbor_id, rank). */
  def bruteForceTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame =
    rankTopK(scoredPairs(corpus, probes, idCol, vecCol), k)

  /** Hard-negative mining for contrastive/embedding training: the
    * top-k most-similar neighbors per probe EXCLUDING the
    * near-duplicate band (`sim >= maxSim`) — the informative negatives
    * are the ones almost as close as the positives, but a near-dup in
    * the negative set is a false negative that poisons the loss.
    * Same broadcast-probe SERVING kernel as [[bruteForceTopK]] (same
    * contract: probes must be a bounded batch); mining negatives for the
    * FULL training set is the corpus-as-probes case — use [[knnJoin]]
    * with its `maxSim` band cut. The band cut happens before ranking, so
    * excluded near-dups free slots for the next-best candidates. */
  def hardNegatives(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      maxSim: Double): DataFrame =
    rankTopK(scoredPairs(corpus, probes, idCol, vecCol)
      .where(col("sim") < maxSim), k)

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
  }

  /** Every (probe, corpus) cosine at 9-decimal precision — the shared
    * kernel behind [[bruteForceTopK]] and [[hardNegatives]]. */
  private def scoredPairs(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // broadcast the probe matrix; one partition-local kernel pass computes
    // every (corpus row x probe) dot product in index order — no row
    // explosion, plain JVM float loops inside the scan stage
    val probeRows = probes.select(col(idCol).cast("long"), col(vecCol))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val probeB = spark.sparkContext.broadcast(probeRows)
    // Widen, not an unconditional repartition: byte-gated, so a corpus
    // that already scans wide pays NO pre-kernel shuffle (§2.4 — the
    // keyless repartition was a full-corpus exchange at scale), while a
    // one-row-group bench table still spreads across the cores.
    val scored = graft.plans.Widen(
        corpus.select(col(idCol).cast("long"), col(vecCol)), factor = 2)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val ps = probeB.value
        val pNorms = ps.map { case (_, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
          math.sqrt(s)
        }
        it.flatMap { case (nid, cv) =>
          var s = 0.0
          var i = 0
          while (i < cv.length) { s += cv(i).toDouble * cv(i).toDouble; i += 1 }
          val cNorm = math.sqrt(s)
          ps.indices.iterator.filter(j => ps(j)._1 != nid).map { j =>
            val pv = ps(j)._2
            var dot = 0.0
            var d = 0
            while (d < pv.length) { dot += pv(d).toDouble * cv(d).toDouble; d += 1 }
            // zero-norm guard BEFORE BigDecimal: a degenerate all-zero
            // vector made this 0/0 = NaN, and BigDecimal(NaN) THROWS —
            // one null embedding crashed the whole brute-force job
            val raw = if (pNorms(j) == 0 || cNorm == 0) 0.0
              else dot / (pNorms(j) * cNorm)
            (ps(j)._1, nid, round9(raw))
          }
        }
      }.toDF("probe_id", "neighbor_id", "sim")
    scored
  }

  /** All pairs with cosine similarity above `threshold` — embedding-based
    * near-duplicate detection. Exact but O(n^2): use only at small n or
    * after blocking; `lshPairs` is the scale path. Output: (id1, id2).
    *
    * The O(n²) is gated at runtime, not just in scaladoc: corpora above
    * `maxExactN` rows are refused with the scale path named in the
    * message. The count is one narrow job before the join — negligible
    * next to the n² work it authorizes, and it turns an
    * accidentally-planetary cross join into an immediate, named error
    * instead of a cluster-week. Raise the cap deliberately (blocking
    * upstream, known-small slice) by passing it explicitly. */
  def thresholdPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxExactN: Long = 100000L): DataFrame = {
    val n = corpus.count()
    require(n <= maxExactN,
      s"thresholdPairs is the exact O(n^2) baseline and the corpus has " +
        s"$n rows (> maxExactN=$maxExactN, ~${BigInt(n) * n / 2} candidate " +
        s"pairs); use Ann.lshPairs (banded SRP) or operators.SetSimJoin " +
        s"(prefix-filtered) as the scale path, or pass maxExactN " +
        s"explicitly if this slice is deliberately small")
    val a = corpus.select(col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = corpus.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, col("id1") < col("id2"))
      .where(cosine(col("v1"), col("v2")) > threshold)
      .select(col("id1"), col("id2"))
  }

  /** Deterministic pseudo-random hyperplane component for table `t`,
    * plane `p`, dim `d`: a 31-bit linear-congruential mix folded to
    * [-1, 1). No RNG state — reproducible across runs, and STATABLE IN
    * PLAIN SQL (integer multiply/mod + one exact power-of-two division),
    * so a differential oracle in any engine can re-derive the buckets
    * exactly — which xxhash64-seeded planes cannot. Mix quality is ample
    * for sign buckets (only the sign of a 64-term dot product survives). */
  private def planeComponent(t: Int, p: Int, d: Column): Column =
    ((lit(1103515245L) * (lit(t * 1000003L + p * 10007L) + d) + lit(12345L))
      % lit(2147483648L)).cast("double") / lit(2147483648d) * 2 - 1

  /** Sign-random-projection bucket id: `numPlanes` sign bits packed into a
    * long. Vectors in the same bucket are candidate neighbors. `table`
    * seeds an independent plane set per hash table. */
  def srpBucket(vec: Column, numPlanes: Int, table: Int = 0): Column =
    (0 until numPlanes).map { p =>
      val dot = aggregate(
        zip_with(vec, sequence(lit(0), size(vec) - 1),
          (x, i) => x.cast("double") * planeComponent(table, p, i)),
        lit(0d), (acc, v) => acc + v)
      when(dot >= 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))

  /** LSH near-dup pairs: bucket by SRP signature under `tables`
    * independent plane sets (seeded by table index), verify cosine on
    * bucket collisions only. */
  def lshPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 12,
      tables: Int = 4): DataFrame = {
    val withBuckets = graft.plans.Widen(corpus, factor = 2)
      .select(
      col(idCol).as("id"), col(vecCol).as("vec"),
      posexplode(array((0 until tables).map(t =>
        srpBucket(col(vecCol), numPlanes, t)): _*))
        .as(Seq("table", "bucket")))
      .localCheckpoint()
    val cands = withBuckets.alias("a")
      .join(withBuckets.alias("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.vec").as("v1"), col("b.vec").as("v2"))
      .dropDuplicates("id1", "id2")
    cands.where(cosine(col("v1"), col("v2")) > threshold).select(col("id1"), col("id2"))
  }

  /** Multi-probe SRP-LSH pairs (Lv et al., VLDB 2007 applied to the
    * pair-join): additionally match buckets at Hamming distance ≤ 1 —
    * one side explodes into its bucket plus every single-bit flip, so a
    * near-dup pair split by ONE unlucky hyperplane still collides. The
    * candidate set is a strict superset of `lshPairs`' (recall can only
    * go up; the exact cosine verify keeps precision at 1), bought with
    * ~numPlanes× candidate fan-out instead of more tables — multi-probe
    * trades compute for the memory/shuffle of extra table replication,
    * which is the right trade when the corpus dominates the cluster. */
  def lshPairsMultiProbe(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      numPlanes: Int = 12,
      tables: Int = 4): DataFrame = {
    val withBuckets = graft.plans.Widen(corpus, factor = 2)
      .select(
        col(idCol).as("id"), col(vecCol).as("vec"),
        posexplode(array((0 until tables).map(t =>
          srpBucket(col(vecCol), numPlanes, t)): _*))
          .as(Seq("table", "bucket")))
      .localCheckpoint()
    // probe side: identity + one flip per plane (XOR is symmetric, so
    // flipping on one side covers distance-1 in both directions)
    val masks = array((lit(0L) +: (0 until numPlanes).map(p => lit(1L << p))): _*)
    val probes = withBuckets.select(col("id"), col("table"),
      explode(masks).as("m"),
      col("bucket"))
      .select(col("id"), col("table"),
        col("bucket").bitwiseXOR(col("m")).as("bucket"))
    val cands = withBuckets.alias("a")
      .join(probes.alias("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"), col("a.vec").as("v1"))
      .dropDuplicates("id1", "id2")
    cands
      .join(corpus.select(col(idCol).as("id2"), col(vecCol).as("v2")), "id2")
      .where(cosine(col("v1"), col("v2")) > threshold)
      .select(col("id1"), col("id2"))
  }

  /** IVF-style ANN: assign every corpus vector to its nearest of `nlist`
    * deterministic centroids (hash-seeded corpus sample), probe only the
    * `nprobe` closest lists per query. Approximate; the 100 TB plan — the
    * corpus shuffles once by centroid, each probe touches nprobe/nlist of
    * the data. Output: (probe_id, neighbor_id, rank). */
  /** Distributed k-means centroids with deterministic hash-sample init
    * (no RNG state → reproducible): Lloyd iterations of assign + per-list
    * element-wise mean, means computed via posexplode + groupBy (one
    * shuffle per round, centroids collected only — nlist·dim values). */
  /** Nearest-centroid assignment via a broadcast JVM kernel: the
    * centroid matrix (nlist x dim doubles — tiny) is collected and
    * broadcast, and one partition-local pass computes every argmax in
    * plain JVM loops — no row explosion, no interpreted lambdas (the
    * HOF-cosine-per-(vector, centroid) formulation this replaces was the
    * dominant cost of the SemDeDup scaling probe). Ties go to the
    * smallest cent_id, matching the windowed formulation. Output:
    * (cent_id, id, v, norm). */
  private[similarity] def assignNearest(corpus: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame): DataFrame = {
    val spark = cents.sparkSession
    import spark.implicits._
    assignNearest(corpus, idCol, vecCol,
      cents.select(col("cent_id").cast("long"), col("cent_vec"))
        .as[(Long, Array[Double])].collect().sortBy(_._1))
  }

  /** [[assignNearest]] over an already-collected centroid table — same
    * collect-sharing contract as the [[assignNearestK]] overload: a
    * caller that needs the centroid matrix anyway pays the collect job
    * once instead of twice (guide §5, serial driver jobs). */
  private[similarity] def assignNearest(corpus: DataFrame, idCol: String,
      vecCol: String, centRows: Array[(Long, Array[Double])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centB = spark.sparkContext.broadcast(centRows)
    // cast up front so array<double> (or integer-typed) embedding columns
    // work through the typed conversion instead of failing in the encoder.
    // Widen (byte-gated) instead of an unconditional repartition: no
    // full-corpus pre-kernel shuffle once the scan splits wide (§2.4).
    graft.plans.Widen(
        corpus.select(col(idCol).cast("long"), col(vecCol).cast("array<float>")),
        factor = 2)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = centB.value
        val cNorms = cs.map { case (_, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          math.sqrt(s)
        }
        it.map { case (id, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
          val norm = math.sqrt(s)
          var best = 0; var bestSim = Double.NegativeInfinity
          var j = 0
          while (j < cs.length) {
            val cv = cs(j)._2
            // a dimension mismatch must fail, not silently score a prefix
            require(cv.length == v.length,
              s"embedding dim ${v.length} != centroid dim ${cv.length}")
            var dot = 0.0; var d = 0
            while (d < cv.length) { dot += cv(d) * v(d).toDouble; d += 1 }
            val sim = if (norm == 0 || cNorms(j) == 0) 0.0 else dot / (norm * cNorms(j))
            if (sim > bestSim) { bestSim = sim; best = j }
            j += 1
          }
          (cs(best)._1, id, v, norm)
        }
      }.toDF("cent_id", "id", "v", "norm")
  }

  /** Multi-list routing through the same broadcast-centroid JVM kernel as
    * [[assignNearest]]: the `nprobe` nearest centroids per vector, emitted
    * as nprobe (cent_id, id, v, norm) rows. This is the BATCH probe
    * router — unlike [[probeLists]] (a broadcast-cents join + window,
    * fine for a query batch) it never expands to a (probes × nlist) row
    * set and never materializes the probe side anywhere: one narrow
    * mapPartitions pass, nprobe output rows per probe. */
  private[similarity] def assignNearestK(df: DataFrame, idCol: String,
      vecCol: String, cents: DataFrame, nprobe: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centRows = cents.select(col("cent_id").cast("long"), col("cent_vec"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    assignNearestK(df, idCol, vecCol, centRows, nprobe)
  }

  /** [[assignNearestK]] over an already-collected centroid table — lets
    * a caller that needs the centroid matrix anyway (e.g. [[knnJoin]]'s
    * dim lookup) pay the collect job once instead of twice. */
  private[similarity] def assignNearestK(df: DataFrame, idCol: String,
      vecCol: String, centRows: Array[(Long, Array[Double])],
      nprobe: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val centB = spark.sparkContext.broadcast(centRows)
    graft.plans.Widen(
        df.select(col(idCol).cast("long"), col(vecCol).cast("array<float>")),
        factor = 2)
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val cs = centB.value
        val cNorms = cs.map { case (_, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i) * v(i); i += 1 }
          math.sqrt(s)
        }
        val m = math.min(nprobe, cs.length)
        it.flatMap { case (id, v) =>
          var s = 0.0; var i = 0
          while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
          val norm = math.sqrt(s)
          val sims = new Array[Double](cs.length)
          var j = 0
          while (j < cs.length) {
            val cv = cs(j)._2
            require(cv.length == v.length,
              s"embedding dim ${v.length} != centroid dim ${cv.length}")
            var dot = 0.0; var d = 0
            while (d < cv.length) { dot += cv(d) * v(d).toDouble; d += 1 }
            sims(j) = if (norm == 0 || cNorms(j) == 0) 0.0
              else dot / (norm * cNorms(j))
            j += 1
          }
          // selection by (sim desc, cent_id asc) — same tie rule as
          // probeLists' window, so both routers pick identical lists
          val order = cs.indices.sortBy(j => (-sims(j), cs(j)._1))
          order.take(m).iterator.map(j => (cs(j)._1, id, v, norm))
        }
      }.toDF("cent_id", "id", "v", "norm")
  }

  /** DISTRIBUTED batch kNN join — top-k cosine neighbors from the indexed
    * corpus for EVERY probe row, with zero driver materialization of
    * either side. This is the corpus-as-probes kernel (SemDeDup sweeps,
    * hard-negative mining over the full training set): where
    * [[bruteForceTopK]] collects + broadcasts the probe batch (the
    * serving shape), here BOTH sides route through the IVF index and
    * meet in a co-partitioned cogroup on `cent_id`:
    *
    *   1. probes → their `nprobe` nearest centroid lists via the
    *      broadcast-centroid kernel ([[assignNearestK]] — nprobe rows per
    *      probe, no (probes × nlist) expansion);
    *   2. one shuffle of each side keyed by cent_id (the corpus side is
    *      already list-assigned in the index — its shuffle carries each
    *      vector ONCE);
    *   3. inside each list, a JVM kernel streams the corpus rows past the
    *      list's probe buffer, maintaining a bounded size-k heap per
    *      probe — per-task memory is (probes routed to the list) ×
    *      (dim + k), independent of corpus size;
    *   4. the ≤ nprobe·k per-probe partials merge in one final top-k
    *      window keyed by probe_id.
    *
    * Recall matches [[ivfQuery]] at equal nprobe (identical routing and
    * tie rules); `nprobe >= nlist` routes exhaustively and is EXACT —
    * equal to [[bruteForceTopK]] row for row. `maxSim` cuts the
    * near-duplicate band before ranking (sim >= maxSim excluded), making
    * this the batch hard-negative miner; the default +∞ keeps every
    * candidate. Similarities are rounded to 9 places (HALF_UP) with
    * neighbor-id tiebreak — deterministic under any partitioning, same
    * rule as every other kNN kernel here.
    *
    * HOT-LIST SPLITTING: per-list work is |probes routed to the list| ×
    * |list|, and real embedding corpora are heavily clustered — without
    * splitting, one dense region makes one straggler task that runs for
    * hours while the rest of the cluster idles. Each list's work is
    * therefore tiled: probes are salted into chunks of at most
    * `maxProbesPerTask` (each probe lands in exactly ONE probe-salt),
    * corpus rows into chunks such that no task scores more than
    * `maxPairsPerTask` pairs (each corpus row in exactly ONE
    * corpus-salt), and each side is replicated across the OTHER side's
    * salts. Per-probe heaps are independent and the final cross-list
    * top-k window merges salted partials exactly as it merges multi-list
    * partials, so the result set is identical for any salt counts —
    * unsplit lists (the common case) take the exact single-task path.
    * A cheap gate (|probes| × |corpus| within the caps) skips the salt
    * machinery entirely for small/serving-sized joins; past the gate
    * the routed probes are localCheckpointed ONCE and both the per-list
    * count pass and the join read that materialization (so the salt
    * plan's coverage is exact even for nondeterministic probe sources,
    * and an expensive probe pipeline runs at most twice: the gate's
    * count + the routing). Unprobed lists are dropped before the
    * shuffle (previously their corpus rows shuffled and were discarded
    * in the cogroup). NOTE the gate makes this method EAGER: count jobs
    * run at call time (like ivfBuild's checkpoints) — an O(rows) price
    * against an O(rows × nprobe × list × dim) join; callers with an
    * expensive probe pipeline should checkpoint it first.
    *
    * Output: (probe_id, neighbor_id, rank 1..≤k). */
  def knnJoin(
      index: IvfIndex,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      maxSim: Double = Double.PositiveInfinity,
      maxPairsPerTask: Long = DefaultMaxPairsPerTask,
      maxProbesPerTask: Int = DefaultMaxProbesPerTask): DataFrame = {
    require(k > 0 && nprobe > 0, "k and nprobe must be positive")
    require(maxPairsPerTask > 0 && maxProbesPerTask > 0,
      "task-size caps must be positive")
    requireIntegralId(probes, idCol, "knnJoin")
    val spark = probes.sparkSession
    import spark.implicits._
    // the index's shared centroid collect serves the dim lookup AND the
    // probe router's broadcast — and a freshly built index already
    // carries it (zero collect jobs here, was one)
    val centRows = index.centRows
    require(centRows.nonEmpty, "knnJoin needs a non-empty centroid table")
    val dim = centRows.head._2.length
    val effPairs = effectivePairCap(maxPairsPerTask, dim)
    // the GATE uses the caller's cap, not the finer tile budget: below
    // it the single unsplit task is bounded by maxPairsPerTask anyway
    // (seconds, the acceptable skip-the-counting ceiling), and
    // serving-sized joins (q199's shape) must stay zero-overhead — a
    // tile-budget gate made them pay the counting pass for nothing.
    // Both gate counts run in ONE tagged-union job instead of two
    // driver round-trips.
    val counts = probes.select(lit(0).as("k"), count(lit(1)).as("n"))
      .unionAll(index.assigned.select(lit(1).as("k"), count(lit(1)).as("n")))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val splittable = saltGateTrips(counts(0), counts(1),
      maxPairsPerTask, maxProbesPerTask)
    val routedRaw = assignNearestK(probes, idCol, vecCol, centRows, nprobe)
      .as[(Long, Long, Array[Float], Double)]
    val lists = index.assigned.select(col("cent_id").cast("long"),
      col("neighbor_id").cast("long"),
      col("neighbor_id_vec").cast("array<float>"))
      .as[(Long, Long, Array[Float])]
    // When the exact counts produce a REAL salt plan, the plan filters
    // rows by cent_id (saltExpand drops lists absent from it) — so the
    // plan must be rebuilt from the SAME routing execution the join
    // reads: pin the routing (localCheckpoint) and re-plan from the
    // pinned frame. A nondeterministic probe source (rand(), sample,
    // fresh monotonically_increasing_id) can otherwise route rows to
    // unplanned lists between the passes, silently losing results.
    // When the counts prove every list balanced (None), NO plan filter
    // exists and the unsplit join is a single execution — correct for
    // any source, so it keeps the verbatim r9 plan with no
    // materialization (an unconditional checkpoint measured 4x on the
    // balanced SQ 200k join: the cogroup lost its fused routing scan).
    val (routed, plan) =
      hotListSalts(splittable, routedRaw.toDF(), lists.toDF(),
        effPairs, maxProbesPerTask) match {
        case None => (routedRaw, None)
        case Some(_) =>
          val pinned = routedRaw.localCheckpoint()
          (pinned, hotListSalts(splittable, pinned.toDF(), lists.toDF(),
            effPairs, maxProbesPerTask))
      }
    val (routedS, listsS) =
      plan match {
        case None =>
          (routed.map(r => (r._1, 0, 0, r._2, r._3, r._4)),
            lists.map(l => (l._1, 0, 0, l._2, l._3)))
        case Some(saltB) =>
          (saltExpand(routed, saltB, probeSide = true)(_._1, _._2,
            (r, p, c) => (r._1, p, c, r._2, r._3, r._4)),
            saltExpand(lists, saltB, probeSide = false)(_._1, _._2,
              (l, p, c) => (l._1, p, c, l._2, l._3)))
      }
    val partial = routedS.groupByKey(r => (r._1, r._2, r._3))
      .cogroup(listsS.groupByKey(r => (r._1, r._2, r._3))) { (_, ps, cs) =>
        val pb = ps.toArray
        if (pb.isEmpty) Iterator.empty
        else {
          // worst-first heap order: lowest sim (then largest id) at the
          // head, so the O(1) peek decides replacement
          val worstFirst =
            Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))
          val heaps = Array.fill(pb.length)(
            new scala.collection.mutable.PriorityQueue[(Double, Long)]()(
              worstFirst))
          cs.foreach { case (_, _, _, nid, nv) =>
            var s = 0.0; var i = 0
            while (i < nv.length) { s += nv(i).toDouble * nv(i).toDouble; i += 1 }
            val nNorm = math.sqrt(s)
            var j = 0
            while (j < pb.length) {
              val (_, _, _, pid, pv, pNorm) = pb(j)
              if (pid != nid) {
                require(pv.length == nv.length,
                  s"embedding dim ${pv.length} != corpus dim ${nv.length}")
                var dot = 0.0; var d = 0
                while (d < pv.length) { dot += pv(d).toDouble * nv(d).toDouble; d += 1 }
                val raw = if (pNorm == 0 || nNorm == 0) 0.0
                  else dot / (pNorm * nNorm)
                val sim = round9(raw)
                if (sim < maxSim) {
                  val h = heaps(j)
                  if (h.size < k) h.enqueue((sim, nid))
                  else {
                    val (wSim, wId) = h.head
                    if (sim > wSim || (sim == wSim && nid < wId)) {
                      h.dequeue(); h.enqueue((sim, nid))
                    }
                  }
                }
              }
              j += 1
            }
          }
          pb.indices.iterator.flatMap { j =>
            val pid = pb(j)._4
            heaps(j).iterator.map { case (sim, nid) => (pid, nid, sim) }
          }
        }
      }.toDF("probe_id", "neighbor_id", "sim")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    partial.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
  }

  /** Default compute cap per knnJoin task: 2^26 probe×corpus pairs.
    * Split tiles are additionally flop-normalized by [[effectivePairCap]]
    * so a tile is ~1 GFLOP (≈ a second of one core) at ANY dimension —
    * a fixed PAIR cap alone makes a dim-128 tile a ~10 s task, and
    * coarse tiles bin-pack badly onto the reducer count (the
    * knnJoinSkew500k probe measured max/median 1.87 from 104 tiles on
    * 32 reducers; ~1500 fine tiles pack to ~1.3). */
  val DefaultMaxPairsPerTask: Long = 1L << 26

  /** Flop-normalized per-task pair budget, applied ONLY at the default
    * cap: pairs × dim ≲ 2^29 multiply-adds (dim floored at 64, so
    * low-dim joins keep 2^23 pairs as the tile). An EXPLICIT cap — tiny
    * (spec-forced splits) or huge (deliberately unsplit baselines) — is
    * honored verbatim: the auto-normalization is a default-tuning rule,
    * not an override of the caller's contract. */
  private[similarity] def effectivePairCap(maxPairsPerTask: Long, dim: Int): Long =
    if (maxPairsPerTask != DefaultMaxPairsPerTask) maxPairsPerTask
    else math.max(1L, math.min(maxPairsPerTask, (1L << 29) / math.max(64, dim)))

  /** Default memory cap per knnJoin task: 2^17 buffered probe vectors
    * (~67 MB at dim 128). Corpus rows stream; only probes are held. */
  val DefaultMaxProbesPerTask: Int = 1 << 17

  /** Cache-resident probe block for split tiles: ~1 MB of vectors at
    * dim 128 plus the k-heaps stays L2-hot while the scoring loop
    * re-walks it once per corpus row. Skew-probe measured: 2048-probe
    * tiles run the same pair count 2.3× faster than 8192-probe ones. */
  val ProbeChunkRows: Int = 2048

  /** The cheap |probes| × |corpus| salt gate: true when some list COULD
    * overflow the per-task caps, so the planner must count. Callers that
    * pass the gate must pin (localCheckpoint) the routed probes before
    * handing them to [[hotListSalts]] — the plan's coverage is exact
    * only when the count pass and the join read one routing execution. */
  private[similarity] def saltGateTrips(
      nP: Long, nC: Long, maxPairsPerTask: Long, maxProbesPerTask: Int): Boolean = {
    require(maxPairsPerTask > 0 && maxProbesPerTask > 0,
      "task-size caps must be positive")
    nP > maxProbesPerTask || (nP > 0 && nC > maxPairsPerTask / nP)
  }

  /** Shared hot-list salt planner for the batch kNN cogroups
    * ([[knnJoin]], [[Quantized.knnJoinSq]]). Returns None when the cheap
    * |probes| × |corpus| gate ([[saltGateTrips]], evaluated by the
    * caller) proves no list can overflow the caps — the zero-overhead
    * path for small/serving-sized joins. Past the gate, per-list
    * (probe-salt count, corpus-salt count) pairs are computed from exact
    * per-cent_id counts (≤ nlist rows of metadata, collected and
    * broadcast exactly like the centroid table the router already
    * carries; the caller pins the routed probes, so the count pass reads
    * the SAME materialized routing the join will — one narrow
    * (cent_id, count) aggregation, map-side combined). Caps:
    *   probe chunk ≤ maxProbesPerTask (task memory: buffered probes)
    *   probe-chunk × corpus-chunk ≤ maxPairsPerTask (task compute) */
  private[similarity] def hotListSalts(
      splittable: Boolean,
      probeCentIds: DataFrame,
      listCentIds: DataFrame,
      maxPairsPerTask: Long,
      maxProbesPerTask: Int)
      : Option[org.apache.spark.broadcast.Broadcast[Map[Long, (Int, Int)]]] = {
    require(maxPairsPerTask > 0 && maxProbesPerTask > 0,
      "task-size caps must be positive")
    if (!splittable) None
    else {
      val spark = probeCentIds.sparkSession
      import spark.implicits._
      val saltMap: Map[Long, (Int, Int)] =
        probeCentIds.groupBy("cent_id").agg(count(lit(1)).as("probe_n"))
          .join(listCentIds.groupBy("cent_id").agg(count(lit(1)).as("list_n")),
            Seq("cent_id"))
          .as[(Long, Long, Long)].collect()
          .map { case (cid, pn, ln) =>
            // Tile shape: the probe chunk is capped at the CACHE-resident
            // block size (the scoring loop re-walks the whole probe
            // buffer — vectors + k-heaps — per corpus row, so the buffer
            // must stay L2-hot: the shuffle-optimal √maxPairs square
            // measured 2.3× slower on the skew probe purely from buffer
            // thrash), and the corpus chunk takes the rest of the pair
            // budget. A one-sided chunkP = maxPairs/list_n formula would
            // collapse to 1-probe chunks once a list exceeds maxPairs
            // rows — replicating the corpus side per PROBE (a
            // cross-product through the shuffle) exactly in the
            // giant-hot-list regime this planner exists for.
            val sqrtCap =
              math.max(1L, math.round(math.sqrt(maxPairsPerTask.toDouble)))
            val chunkP = Seq(sqrtCap, maxProbesPerTask.toLong,
              ProbeChunkRows.toLong, math.max(pn, 1L)).min
            val chunkC = math.max(1L, math.min(ln, maxPairsPerTask / chunkP))
            // toIntExact: a salt count past Int range must fail loudly,
            // not wrap negative and silently drop the list's rows
            cid -> (math.toIntExact((pn + chunkP - 1) / chunkP),
              math.toIntExact((ln + chunkC - 1) / chunkC))
          }.toMap
      // exact counts can prove what the coarse gate could not: if NO
      // list actually overflows, hand back the unsplit plan — the
      // identity fan-out plus (for the SQ kernel) its pool-trim window
      // are pure overhead (measured 6× on a balanced 200k×200k join)
      if (saltMap.values.forall(_ == ((1, 1)))) None
      else Some(spark.sparkContext.broadcast(saltMap))
    }
  }

  /** 64-bit finalizer mix (MurmurHash3 fmix64) before the salt mod:
    * plain `Long.hashCode(id) % salts` sends ids that share low bits
    * (sequential ids stepping by a multiple of `salts`, zero-padded key
    * spaces) into ONE salt, re-creating the very straggler the split
    * exists to kill and blowing the probe-buffer memory bound. The mix
    * makes the per-salt size a balls-in-bins expectation for ANY id
    * pattern; the cap is exact-in-expectation, ±O(√(n/salts)) tails. */
  @inline private def mixSalt(id: Long, salts: Int): Int = {
    var h = id
    h ^= h >>> 33
    h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33
    h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    math.floorMod(h, salts.toLong).toInt
  }

  /** Shared salt fan-out for both batch kNN kernels: probe-side rows get
    * ONE probe-salt (mixed hash of their id) and replicate across the
    * list's corpus-salts; corpus-side rows get ONE corpus-salt and
    * replicate across the probe-salts. Rows of lists absent from the
    * plan drop before the shuffle — exact, not a heuristic: the caller
    * pins the routed probes before planning, so an absent cent_id is
    * either an unprobed list (its corpus rows can't contribute) or a
    * probed list with zero corpus rows (its probes can't score anything). */
  private[similarity] def saltExpand[T, U: org.apache.spark.sql.Encoder](
      ds: org.apache.spark.sql.Dataset[T],
      saltB: org.apache.spark.broadcast.Broadcast[Map[Long, (Int, Int)]],
      probeSide: Boolean)(
      cid: T => Long, id: T => Long, mk: (T, Int, Int) => U)
      : org.apache.spark.sql.Dataset[U] =
    ds.mapPartitions { it =>
      val m = saltB.value
      it.flatMap { t =>
        m.get(cid(t)) match {
          case None => Iterator.empty
          case Some((psalts, csalts)) =>
            if (probeSide) {
              val p = mixSalt(id(t), psalts)
              (0 until csalts).iterator.map(c => mk(t, p, c))
            } else {
              val c = mixSalt(id(t), csalts)
              (0 until psalts).iterator.map(p => mk(t, p, c))
            }
        }
      }
    }

  /** [[knnJoin]] over an unindexed corpus: build the IVF index (nlist
    * defaults to [[autoNlist]]) and join through it. */
  def knnJoin(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int,
      nprobe: Int,
      maxSim: Double): DataFrame =
    knnJoin(ivfBuild(corpus, idCol, vecCol, nlist = nlist), probes, idCol,
      vecCol, k, nprobe = nprobe, maxSim = maxSim)

  /** Default IVF/SemDeDup list count for a corpus of `n` vectors: ~sqrt(n)
    * (the FAISS guideline — balances list length n/nlist against the
    * nlist-term scan of the coarse quantizer), clamped to [16, 65536].
    * Callers pass an explicit nlist to pin output for differential tests;
    * nlist <= 0 selects this. */
  def autoNlist(n: Long): Int =
    math.max(16, math.min(65536, math.round(math.sqrt(n.toDouble)).toInt))

  def kmeansCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iterations: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = corpus
      .select(col(idCol).cast("long").as("cent_id"),
        col(vecCol).cast("array<double>").as("cent_vec"),
        xxhash64(col(idCol)).as("h"))
      .orderBy(col("h")).limit(nlist)
      .select(col("cent_id"), col("cent_vec"))
      .localCheckpoint(false) // lazy: assignNearest's collect materializes
    for (_ <- 1 to iterations) {
      val assigned = assignNearest(corpus, idCol, vecCol, cents)
        .select(col("cent_id"), col("v"))
      // Per-list means via MAP-SIDE vector partial sums (guide §2.3
      // "aggregate before you shuffle"): each task folds its rows into
      // at most nlist (cent_id, count, sum-vector) partials, so the
      // means shuffle carries ≤ tasks × nlist rows instead of the
      // corpus × dim exploded rows the posexplode + groupBy(cent, i)
      // formulation shipped (the dominant cost of every Lloyd round,
      // both here and at corpus scale). Partials merge per list in
      // PARTITION-ID order, so the double summation order — and hence
      // the centroid bits — is deterministic for a fixed partitioning,
      // matching the determinism contract of the old two-groupBy plan
      // (exact float sums differ from it in final ulps; every consumer
      // of centroid VALUES is approximate-by-contract: the exact kNN
      // paths route exhaustively and are centroid-invariant).
      val means = assigned.as[(Long, Array[Float])]
        .mapPartitions { it =>
          val partId = org.apache.spark.TaskContext.getPartitionId()
          final class Acc(dim: Int) { val s = new Array[Double](dim); var c = 0L }
          val sums = scala.collection.mutable.LongMap.empty[Acc]
          it.foreach { case (cid, v) =>
            val a = sums.getOrElseUpdate(cid, new Acc(v.length))
            var i = 0
            while (i < v.length) { a.s(i) += v(i).toDouble; i += 1 }
            a.c += 1
          }
          sums.iterator.map { case (cid, a) => (cid, partId, a.c, a.s) }
        }
        .toDF("cent_id", "part_id", "cnt", "sum")
        .as[(Long, Int, Long, Array[Double])]
        .groupByKey(_._1)
        .mapGroups { (cid, partials) =>
          val ps = partials.toArray.sortBy(_._2)
          val dim = ps.head._4.length
          val tot = new Array[Double](dim)
          var n = 0L
          ps.foreach { case (_, _, c, s) =>
            var i = 0
            while (i < dim) { tot(i) += s(i); i += 1 }
            n += c
          }
          var i = 0
          while (i < dim) { tot(i) /= n.toDouble; i += 1 }
          (cid, tot)
        }
        .toDF("cent_id", "cent_vec")
      // lazy: the next consumer is always a centroid COLLECT (the next
      // Lloyd round's kernel or the caller's router) — it materializes,
      // and no join ever plans from these stats
      cents = means.localCheckpoint(eager = false)
    }
    cents
  }

  /** Probe-side routing: the `nprobe` nearest lists per probe vector.
    *
    * r15: delegates to the broadcast-centroid JVM kernel
    * ([[assignNearestK]]) instead of the old
    * `probes × broadcast(cents)` join + row_number window — that shape
    * expanded every probe into nlist rows and paid a window shuffle
    * just to keep nprobe of them. The kernel emits exactly nprobe rows
    * per probe from one narrow pass, with bit-identical scores (same
    * double dot/norm accumulation order, same zero-norm rule) and the
    * same (sim desc, cent_id) tie rule, so routing — and therefore
    * every IVF result — is unchanged. Probe vectors pass through the
    * kernel's array<float> cast, the same representation the index
    * stores ([[assignNearest]]); float inputs (every driver table and
    * caller) are unaffected. */
  private[similarity] def probeLists(cents: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, nprobe: Int): DataFrame =
    assignNearestK(probes, idCol, vecCol, cents, nprobe)
      .select(col("id").as("probe_id"), col("v").as("probe_id_vec"),
        col("cent_id"))

  /** [[probeLists]] over an already-collected centroid table (the
    * IvfIndex cache) — no per-call centroid collect job. */
  private[similarity] def probeLists(centRows: Array[(Long, Array[Double])],
      probes: DataFrame, idCol: String, vecCol: String,
      nprobe: Int): DataFrame =
    assignNearestK(probes, idCol, vecCol, centRows, nprobe)
      .select(col("id").as("probe_id"), col("v").as("probe_id_vec"),
        col("cent_id"))

  /** Shared IVF tail: join probed lists to assigned lists on `joinKeys`,
    * score candidates, rank to top-k per probe. */
  private def rankCandidates(probed: DataFrame, assigned: DataFrame,
      joinKeys: Seq[String], k: Int): DataFrame = {
    // Score FIRST, then project the vectors away, so the dedup exchange
    // ships (probe_id, neighbor_id, sim) instead of two embedding
    // payloads per candidate (guide §2.3 "shuffle keys and metadata
    // instead of payloads" — the old dropDuplicates-then-score shape
    // measured 20.3 MB on q207's dedup exchange, ~30× the metadata).
    // Scoring before the dedup is output-identical: a (probe, neighbor)
    // pair joins once per shared list and a neighbor sits in exactly one
    // list per assigned row, so duplicates only arise from a duplicated
    // neighbor id in the index — where the old arbitrary-row
    // dropDuplicates was nondeterministic and max(sim) is strictly
    // better defined.
    val scored = probed.join(assigned, joinKeys)
      .where(col("probe_id") =!= col("neighbor_id"))
      .withColumn("sim",
        round(cosine(col("probe_id_vec"), col("neighbor_id_vec")), 9))
      .select(col("probe_id"), col("neighbor_id"), col("sim"))
    // ONE hash(probe_id) exchange serves both the pair dedup (partition
    // by a subset of the group keys still clusters every group) and the
    // rank window right after it (guide §2.4 "two operations keyed the
    // same way can share one exchange" — was dedup-by-pair + window-by-
    // probe, two full candidate-volume exchanges).
    val deduped = scored.repartition(col("probe_id"))
      .groupBy(col("probe_id"), col("neighbor_id"))
      .agg(max(col("sim")).as("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("probe_id")).orderBy(col("sim").desc, col("neighbor_id"))
    deduped.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rank"))
  }

  /** FILTERED vector search — top-k among the corpus rows satisfying a
    * predicate, the feature every production vector store names
    * (filtered / hybrid search) and implements as a selectivity cutover:
    *
    *   - SELECTIVE predicate (matched fraction ≤ `cutover`): pre-filter.
    *     Brute-force over the filtered subset — exact top-k, and cheap
    *     precisely because few rows matched; routing an index would add
    *     cost, not save it.
    *   - BROAD predicate: post-filter. IVF-route the probes over the
    *     FULL corpus with an over-fetched pool (k × `overFetch`), drop
    *     candidates failing the predicate, keep the best k survivors.
    *     Recall is bounded by routing + over-fetch — the same trade the
    *     unfiltered IVF path makes, widened by overFetch against
    *     predicate attrition.
    *
    * Both routes return (probe_id, neighbor_id, rank) with rank 1..≤k
    * per probe (fewer when the filtered corpus runs out). The decision
    * reads two counts — at index-serving scale those are metadata-cheap
    * relative to either search. */
  def filteredTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      predicate: Column,
      k: Int,
      cutover: Double = 0.1,
      overFetch: Int = 4,
      nlist: Int = 0,
      nprobe: Int = 4): DataFrame = {
    require(k > 0 && overFetch >= 1, "k and overFetch must be positive")
    val filtered = corpus.where(predicate).localCheckpoint()
    val n = filtered.count()
    val total = corpus.count()
    if (total == 0 || n == 0 || n <= cutover * total)
      bruteForceTopK(filtered, probes, idCol, vecCol, k)
    else {
      val pool = ivfTopK(corpus, probes, idCol, vecCol, k * overFetch,
        nlist = nlist, nprobe = nprobe)
      val keep = filtered.select(col(idCol).cast("long").as("neighbor_id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id")).orderBy(col("rank"))
      pool.join(keep, Seq("neighbor_id"), "left_semi")
        .withColumn("rank2", row_number().over(w))
        .where(col("rank2") <= k)
        .select(col("probe_id"), col("neighbor_id"), col("rank2").as("rank"))
    }
  }

  def ivfTopK(
      corpus: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nlist: Int = 0,
      nprobe: Int = 4,
      kmeansIterations: Int = 1): DataFrame = {
    val lists = if (nlist > 0) nlist else autoNlist(corpus.count())
    val cents = kmeansCentroids(corpus, idCol, vecCol, lists, kmeansIterations)
    // ONE centroid collect shared by the corpus assignment kernel and
    // the probe router (was one serial job each — guide §5)
    val centRows = {
      val spark = cents.sparkSession
      import spark.implicits._
      cents.select(col("cent_id").cast("long"), col("cent_vec"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    }
    val assigned = assignNearest(corpus, idCol, vecCol, centRows)
      .select(col("id").as("neighbor_id"), col("v").as("neighbor_id_vec"),
        col("cent_id"))
    rankCandidates(probeLists(centRows, probes, idCol, vecCol, nprobe),
      assigned, Seq("cent_id"), k)
  }

  /** Prebuilt IVF index: centroids + the once-assigned corpus. Fitting
    * k-means and routing 100 TB of vectors is the expensive half of IVF —
    * a production engine does it ONCE and serves many query batches, so
    * build/save/load/query are separate operators. `assigned` carries
    * `list_bucket = cent_id mod numBuckets`, the on-disk partition key:
    * a query touching nprobe lists prunes to at most nprobe of the
    * numBuckets partition directories at the FILE level (no full-index
    * scan, the at-rest analogue of the routed shuffle). */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame,
      numBuckets: Int,
      private val preCollected: Option[Array[(Long, Array[Double])]] = None) {
    /** The collected (cent_id, cent_vec) matrix, sorted by id — shared
      * by every consumer needing the centroids on the driver (probe
      * routing, dim lookup): one serial collect job per index instance
      * instead of one per consumer (guide §5). A built index carries
      * the array it already collected for corpus assignment; a loaded
      * index collects lazily on first use. */
    @transient lazy val centRows: Array[(Long, Array[Double])] =
      preCollected.getOrElse {
        val spark = centroids.sparkSession
        import spark.implicits._
        centroids.select(col("cent_id").cast("long"), col("cent_vec"))
          .as[(Long, Array[Double])].collect().sortBy(_._1)
      }
  }

  def ivfBuild(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int = 0,
      kmeansIterations: Int = 1,
      numBuckets: Int = 64): IvfIndex = {
    // pmod(x, 0) is null under non-ANSI SQL, which would silently empty
    // every bucket join downstream — fail loudly here instead
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val lists = if (nlist > 0) nlist else autoNlist(corpus.count())
    // kmeansCentroids always RETURNS a checkpointed frame (the init
    // sample and every Lloyd round are pinned) — re-checkpointing it
    // here was one redundant materialization job per index build
    val cents = kmeansCentroids(corpus, idCol, vecCol, lists, kmeansIterations)
    // ONE collect of the final centroids serves both the corpus
    // assignment kernel here and the index's centroids frame consumers
    // (guide §5: each collect of the same small table is a serial
    // driver job)
    val centRows = {
      val spark = cents.sparkSession
      import spark.implicits._
      cents.select(col("cent_id").cast("long"), col("cent_vec"))
        .as[(Long, Array[Double])].collect().sortBy(_._1)
    }
    val assigned = assignNearest(corpus, idCol, vecCol, centRows)
      .select(col("id").as("neighbor_id"), col("v").as("neighbor_id_vec"),
        col("cent_id"),
        pmod(col("cent_id"), lit(numBuckets.toLong)).cast("int").as("list_bucket"))
    // lazy: the first consumer (the gate count / first list scan)
    // materializes the assignment; eager here was one extra serial job
    IvfIndex(cents, assigned.localCheckpoint(false), numBuckets,
      Some(centRows))
  }

  /** Persist an index: lists land partitioned by `list_bucket` so loads
    * prune at the directory level; a one-row meta table pins numBuckets
    * (recomputing the probe-side bucket with a different modulus would
    * silently empty the partition-key join). */
  def ivfSave(index: IvfIndex, path: String): Unit = {
    val spark = index.centroids.sparkSession
    import spark.implicits._
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    // sort by cent_id inside each bucket: parquet row-group min/max stats
    // then prune at the LIST level inside a bucket file, not just the
    // bucket level — the cent_id isin() pushdown needs the clustering
    index.assigned.repartition(col("list_bucket"))
      .sortWithinPartitions("list_bucket", "cent_id")
      .write.mode("overwrite").partitionBy("list_bucket")
      .parquet(s"$path/lists")
    Seq(index.numBuckets).toDF("num_buckets").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta")
    // base row count at save time: appends against frozen centroids are
    // recall debt, and the retrain decision needs the appended FRACTION
    // — see StreamingAnn.appendedFraction (separate file, so meta's
    // single-int contract and older readers stay untouched)
    Seq(index.assigned.count()).toDF("base_rows").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/base_meta")
  }

  def ivfLoad(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/centroids"),
      spark.read.parquet(s"$path/lists"),
      spark.read.parquet(s"$path/meta").head().getInt(0))

  /** Route a new vector batch against an index's EXISTING centroids (no
    * refit — centroid drift is an offline rebuild decision, exactly as
    * in FAISS `add`) into list rows carrying ivfSave's layout columns.
    * The shared kernel behind [[ivfAppend]] and the streaming ingest
    * ([[graft.streaming.StreamingAnn.appendBatch]]). */
  def routeForAppend(index: IvfIndex, batch: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    assignNearest(batch, idCol, vecCol, index.centRows)
      .select(col("id").as("neighbor_id"), col("v").as("neighbor_id_vec"),
        col("cent_id"),
        pmod(col("cent_id"), lit(index.numBuckets.toLong)).cast("int")
          .as("list_bucket"))

  /** Incrementally extend an in-memory index with a new vector batch —
    * the streaming-ingest half of index maintenance. */
  def ivfAppend(index: IvfIndex, batch: DataFrame, idCol: String,
      vecCol: String): IvfIndex =
    index.copy(assigned =
      index.assigned.unionByName(routeForAppend(index, batch, idCol, vecCol)))

  /** Query a prebuilt index: route probes to their nprobe lists, then the
    * (cent_id, list_bucket) equi-join — the partition key in the join
    * keys lets dynamic partition pruning skip unprobed list files on a
    * loaded index. */
  def ivfQuery(
      index: IvfIndex,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4,
      maxLiteralProbes: Int = 1024): DataFrame = {
    require(index.numBuckets > 0,
      s"index numBuckets must be positive, got ${index.numBuckets}")
    requireIntegralId(probes, idCol, "ivfQuery")
    def route(df: DataFrame) =
      probeLists(index.centRows, df, idCol, vecCol, nprobe)
        .withColumn("list_bucket",
          pmod(col("cent_id"), lit(index.numBuckets.toLong)).cast("int"))
    // bounded literal pushdown: for a SMALL probe batch (the serving
    // case), route once eagerly, collect the probed list ids, and push
    // STATIC partition + cent_id filters into the list scan — unprobed
    // list files prune at planning time (dynamic pruning is
    // plan-dependent; literals are guaranteed). The gate is a cheap
    // bounded take on the raw probes, so a large fan-out batch pays no
    // eager materialization at all: it goes straight to the lazy
    // partition-key equi-join (most lists are touched there anyway, so
    // pruning would buy nothing).
    val fewProbes = probes.select(col(idCol)).take(maxLiteralProbes + 1)
      .length <= maxLiteralProbes
    if (fewProbes) {
      val probed = route(probes).localCheckpoint(false) // listIds collect materializes
      val listIds = probed.select(col("cent_id")).distinct()
        .collect().map(_.getLong(0))
      val assigned =
        if (listIds.nonEmpty) {
          val buckets = listIds
            .map(c => math.floorMod(c, index.numBuckets.toLong).toInt).distinct
          index.assigned
            .where(col("list_bucket").isin(buckets.toSeq: _*) &&
              col("cent_id").isin(listIds.toSeq: _*))
        } else index.assigned
      rankCandidates(probed, assigned, Seq("cent_id", "list_bucket"), k)
    } else
      rankCandidates(route(probes), index.assigned,
        Seq("cent_id", "list_bucket"), k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the corpus once with the deterministic
    * k-means, compare embeddings ONLY within a cluster, and elect the
    * minimum id of each over-threshold near-duplicate group as keeper.
    * Output: (id, keep_id, cent_id) — one row per document, keep_id ==
    * id for semantic uniques.
    *
    * Scale shape: a broadcast-centroid assignment pass, then the
    * quadratic comparison confined to each cluster (~n/nlist rows),
    * co-located by one cent_id shuffle — the paper's trick for making
    * all-pairs cosine tractable at web scale; representatives via the
    * shared connected-components reducer. The assignment is
    * checkpointed so both sides of the within-cluster self-join read
    * one materialization (same ReuseExchange miss as the text dedups). */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nlist: Int = 0,
      kmeansIterations: Int = 1): DataFrame = {
    val lists = if (nlist > 0) nlist else autoNlist(corpus.count())
    val cents = kmeansCentroids(corpus, idCol, vecCol, lists, kmeansIterations)
    val assigned = assignNearest(corpus, idCol, vecCol, cents)
      .repartition(col("cent_id"))
      .localCheckpoint()
    // within-cluster cosine via posexplode + equi-join + sum: the pair
    // loop stays in whole-stage codegen (an interpreted HOF cosine per
    // pair was the q21 lesson — 5x slower), with map-side partial
    // aggregation shrinking the (id1, id2) dot-product shuffle
    val comps = assigned.select(col("cent_id"), col("id"), col("norm"),
      posexplode(col("v")).as(Seq("i", "x")))
    val pairs = comps.alias("a")
      .join(comps.alias("b"),
        col("a.cent_id") === col("b.cent_id") && col("a.i") === col("b.i") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(sum(col("a.x").cast("double") * col("b.x").cast("double")).as("dot"),
        first(col("a.norm")).as("n1"), first(col("b.norm")).as("n2"))
      // zero-norm guard: same kernel rule as cosine() — 0/0 would raise
      // DIVIDE_BY_ZERO under ANSI on a degenerate all-zero embedding
      .where(when(col("n1") * col("n2") === 0d, lit(0d))
        .otherwise(col("dot") / (col("n1") * col("n2"))) > threshold)
      .select(col("id1"), col("id2"))
    graft.dedup.Dedup.representatives(assigned.select(col("id")), pairs)
      .join(assigned.select(col("id"), col("cent_id")), "id")
  }
}

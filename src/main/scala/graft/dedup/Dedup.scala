package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextAnalysis

/** Deduplication operators for a 100 TB-scale document pipeline.
  *
  * All variants follow the same scalable shape: per-row signature columns
  * (codegen'd expressions, no UDFs) -> candidate generation via equi-join on
  * a blocking key (never an all-pairs product) -> exact verification on the
  * candidate set only. This keeps every stage a hash shuffle that AQE can
  * re-plan, with skew handled by the blocking key's natural spread.
  *
  * The signature pipelines run on single-pass native expressions
  * ([[graft.functions.TextHash]], registered by
  * [[graft.plans.GraftExtensions]]) inside whole-stage codegen with NO
  * materialization barriers: scan -> narrow compute -> one tiny
  * (id, signature) shuffle -> blocked join.
  */
object Dedup {

  /** Exact dedup: group identical values of `keyCol`, keep the minimum id.
    * Output: (keep_id, dups) one row per distinct key. */
  def exact(df: DataFrame, keyCol: String, idCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dups"))
      .select(col("keep_id"), col("dups"))

  /** Explicit partition count for compute-heavy / expansion stages: AQE
    * sizes stages by input bytes, which starves post-explode expansions and
    * per-row hash loops of parallelism when the input table is small. */
  private def par(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism * 2

  /** Distinct word-shingle sets per doc, the shared substrate of the
    * Jaccard-family dedupers: one codegen'd pass per row, no barriers.
    * Input widening is byte-gated ([[graft.plans.Widen]]): narrow inputs
    * spread to 2× parallelism, corpus-scale inputs keep their scan
    * partitioning instead of paying a full-corpus shuffle. */
  private[dedup] def shingled(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    graft.plans.Widen(df, factor = 2)
      .select(col(idCol).as("id"),
        call_function("word_shingles", col(textCol), lit(k)).as("shingles"))
      .where(size(col("shingles")) > 0)

  /** Exact n-gram Jaccard near-dup pairs, threshold as a rational num/den so
    * the comparison is exact integer arithmetic (`den*inter > num*union`):
    * no float boundary flakiness in differential tests.
    * Output: (id1, id2) with id1 < id2 and jaccard > num/den. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int,
      num: Int,
      den: Int): DataFrame = {
    val s = shingled(df, textCol, idCol, k)
    // adaptive physical strategy: a small shingle vocabulary over a
    // broadcastable corpus admits an exact bitmap plan (dictionary-encode
    // shingles, one bitset per doc, AND+popcount over all pairs in
    // mapPartitions) that avoids the O(sum df^2) shingle self-join
    // entirely. Real text corpora blow past the bounds and take the
    // join plan, whose cost is output-bound and scales out.
    // Both stats come from ONE aggregation pass (approximate is fine —
    // they only pick between two correct plans).
    val st = s.select(explode(col("shingles")).as("sh"), col("id"))
      .agg(approx_count_distinct(col("sh")).as("d"),
        approx_count_distinct(col("id")).as("n")).head()
    val dictSize = st.getLong(0)
    val nDocs = st.getLong(1)
    val broadcastBytes = nDocs * (dictSize / 8 + 32)
    val idIsIntegral = s.schema("id").dataType match {
      case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    if (idIsIntegral && dictSize <= 80000 && nDocs <= 50000 && broadcastBytes <= (64L << 20))
      jaccardPairsBitmap(s, num, den)
    else jaccardPairsJoin(s, num, den)
  }

  /** Output-bound distributed plan: explode shingles, self-equi-join on
    * the shingle, count intersections per pair, integer-exact threshold. */
  private def jaccardPairsJoin(s: DataFrame, num: Int, den: Int): DataFrame = {
    val sizes = s.select(col("id"), size(col("shingles")).as("n"))
    // repartition after the explode: the self-join's row expansion is
    // orders of magnitude larger than the input, and Spark sizes the stage
    // by input bytes — without this the whole expansion lands in one task.
    val tok = s.select(col("id"), explode(col("shingles")).as("sh"))
      .repartition(par(s), col("sh"))
    val inter = tok.alias("a")
      .join(tok.alias("b"), col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), "id1")
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), "id2")
      // jaccard > num/den  <=>  den*inter > num*(n1+n2-inter)
      .where(lit(den) * col("inter") > lit(num) * (col("n1") + col("n2") - col("inter")))
      .select(col("id1"), col("id2"))
  }

  /** Small-vocabulary exact plan: dictionary-encoded bitsets, broadcast
    * corpus, AND+popcount over the strict upper triangle. ONE collect of
    * the (id, shingles) rows feeds both the dictionary and the bitsets
    * (the gate bounded the corpus, so the driver copy is small).
    *
    * Kernel shape (r15 optimization — output-identical, the pair set is
    * order-free):
    *   - the popcount walks the SPARSE nonzero-word index lists of the
    *     two bitsets (merge scan) instead of the full dict/64 words: a
    *     doc's shingles touch ≈|shingles| of the ~dict/64 words, so the
    *     per-pair cost drops from O(dict/64) to O(nnz1+nnz2) — measured
    *     59 → ~8 task-seconds on the sf0.1 q19 corpus;
    *   - the exact length filter (den·min ≤ num·(n1+n2−min) ⇒ even
    *     containment misses the threshold) skips pairs before any word
    *     is touched;
    *   - each task processes row i AND its mirror n−1−i, so the strict
    *     upper triangle's shrinking inner loop no longer makes the first
    *     range partition a 2× straggler. */
  private def jaccardPairsBitmap(s: DataFrame, num: Int, den: Int): DataFrame = {
    val spark = s.sparkSession
    import spark.implicits._
    val rows = s.select(col("id").cast("long").as("id"), col("shingles"))
      .as[(Long, Seq[String])].collect()
    val dict = rows.iterator.flatMap(_._2).toArray.distinct.sorted.zipWithIndex.toMap
    val words = (dict.size + 63) / 64
    val encoded = rows.map { case (id, shingles) =>
        val bits = new Array[Long](words)
        shingles.foreach { sh =>
          val i = dict(sh)
          bits(i >> 6) |= 1L << (i & 63)
        }
        val nz = Array.newBuilder[Int]
        var w = 0
        while (w < words) { if (bits(w) != 0L) nz += w; w += 1 }
        (id, bits, nz.result(), shingles.size)
      }.sortBy(_._1)
    val allB = spark.sparkContext.broadcast(encoded)
    val n = encoded.length
    spark.range(0, (n + 1) / 2, 1, par(s)).as[Long].flatMap { iL =>
      val all = allB.value
      val out = scala.collection.mutable.ListBuffer[(Long, Long)]()
      def row(i: Int): Unit = {
        val (id1, b1, nz1, n1) = all(i)
        var j = i + 1
        while (j < all.length) {
          val (id2, b2, nz2, n2) = all(j)
          // length filter: inter ≤ min(n1,n2), so the threshold is
          // reachable only if den·min > num·(n1+n2−min)
          val mn = math.min(n1, n2)
          if (den.toLong * mn > num.toLong * (n1 + n2 - mn)) {
            var inter = 0
            var p = 0
            var q = 0
            while (p < nz1.length && q < nz2.length) {
              val w1 = nz1(p); val w2 = nz2(q)
              if (w1 < w2) p += 1
              else if (w2 < w1) q += 1
              else {
                inter += java.lang.Long.bitCount(b1(w1) & b2(w1))
                p += 1; q += 1
              }
            }
            if (den.toLong * inter > num.toLong * (n1 + n2 - inter))
              out += ((id1, id2))
          }
          j += 1
        }
      }
      val i = iL.toInt
      row(i)
      val m = n - 1 - i
      if (m != i && m >= (n + 1) / 2) row(m)
      out
    }.toDF("id1", "id2")
  }

  /** MinHash signature: numHashes independent 64-bit hash family members via
    * seeded xxhash64; signature[j] = min over shingles of h_j(shingle).
    * Column formulation (interpreted HOFs), the reference the native
    * `minhash_sigs` expression is checked against: it computes the
    * identical signature in one codegen'd pass. */
  def minhashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(transform(shingles, s => xxhash64(lit(j), s)))
    }: _*)

  /** MinHash + LSH banding near-dup pairs (the scale path for Jaccard
    * dedup): signature -> band hashes -> equi-join on (band, bandHash) ->
    * exact Jaccard verification of the candidates only.
    * Candidate volume is O(collisions), never O(n^2).
    * Output: (id1, id2) candidate-verified pairs with jaccard > num/den. */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 2,
      numHashes: Int = 32,
      bands: Int = 8,
      num: Int = 1,
      den: Int = 3): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder " +
        "would silently drop the trailing signature hashes from banding")
    val rows = numHashes / bands
    // (id, shingles, sig) materialized ONCE: the self-join's two sides
    // and the verification all read the checkpointed blocks, so the
    // scan + signature pipeline runs exactly one time. (A repartition
    // was tried first on the theory that ReuseExchange dedups the two
    // identical exchanges — it does not fire across the self-join's
    // re-aliased subtrees, and the plan showed two full scans.)
    val s = shingled(df, textCol, idCol, k)
      .withColumn("sig", call_function("minhash_sigs", col("shingles"), lit(numHashes)))
      .localCheckpoint()
    val banded = s.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(slice(col("sig"), b * rows + 1, rows).cast("string"))
      }: _*)).as(Seq("band", "bandHash")))
    val candidates = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // exact verification on candidates only
    candidates
      .join(s.select(col("id").as("id1"), col("shingles").as("sh1")), "id1")
      .join(s.select(col("id").as("id2"), col("shingles").as("sh2")), "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("uni", size(col("sh1")) + size(col("sh2")) - col("inter"))
      .where(lit(den) * col("inter") > lit(num) * col("uni"))
      .select(col("id1"), col("id2"))
  }

  /** (id, band, bandHash) LSH band-bucket membership — the banding stage
    * of [[minhashLshPairs]] exposed for bucket-level clustering
    * ([[FuzzyClusters.lshStarClusters]]), which consumes buckets
    * directly instead of enumerating pairs. */
  def minhashBandBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 2,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    require(bands > 0 && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes) — a remainder " +
        "would silently drop the trailing signature hashes from banding")
    val rows = numHashes / bands
    shingled(df, textCol, idCol, k)
      .withColumn("sig", call_function("minhash_sigs", col("shingles"), lit(numHashes)))
      .select(
        col("id"),
        posexplode(array((0 until bands).map { b =>
          xxhash64(slice(col("sig"), b * rows + 1, rows).cast("string"))
        }: _*)).as(Seq("band", "bandHash")))
  }

  /** The dedup decision step: collapse near-dup pairs into clusters
    * (connected components) and elect the minimum id as each cluster's
    * representative; every record maps to its keeper (itself when
    * unpaired). Output: (id, keep_id). */
  def representatives(allIds: DataFrame, pairs: DataFrame): DataFrame =
    graft.graph.GraphOps.connectedComponents(
        pairs.select(col("id1").as("src"), col("id2").as("dst")),
        vertices = Some(allIds.select(col(allIds.columns.head).as("id"))))
      .select(col("id"), col("component").as("keep_id"))

  /** CCNet-style segment-level dedup: drop every segment (line, paragraph,
    * sentence — whatever `sep` delimits) whose corpus-wide occurrence count
    * exceeds `maxFreq`, and reconstruct each document from its surviving
    * segments in original order. This removes boilerplate (headers, footers,
    * cookie banners, navigation chrome) that exact/near document dedup
    * cannot touch because the surrounding text differs.
    *
    * Scale shape (the CCNet pass over Common Crawl, restated for Spark):
    *  - the frequency count groups by `xxhash64(segment)` — an 8-byte
    *    shuffle key, never the segment text (same design as the exact-
    *    substring span dedup; a 64-bit collision merges two counts with
    *    probability ~n²/2⁶⁴, which at worst drops an innocent segment —
    *    the same tolerance every hash-based dedup in this module accepts);
    *  - the banned set (count > maxFreq) is USUALLY small — only segments
    *    repeated corpus-wide survive the HAVING — and AQE converts the
    *    anti-join to a broadcast at runtime when it measures small, so
    *    the document side never shuffles on the common path. The hint is
    *    deliberately NOT forced: at a low maxFreq over a large corpus
    *    (maxFreq = 1 bans every segment occurring twice) the banned set
    *    is a large fraction of all distinct segments, and a pinned
    *    broadcast would OOM the driver where the AQE plan degrades
    *    gracefully to a shuffled anti-join;
    *  - reconstruction shuffles (id, pos, segment) once, partitioned by
    *    document id.
    *
    * Output: (id, n_segments, n_kept, text_dedup) — one row per input
    * document, `text_dedup = ""` when every segment was banned.
    *
    * Reference anchor: the reference has no corpus-boilerplate pass (its
    * documents are personal-scale); this generalizes its per-document
    * span dedup to corpus-frequency curation. */
  def dedupSegments(df: DataFrame, textCol: String, idCol: String,
                    sep: String, maxFreq: Long): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val segs = df.select(col(idCol),
        posexplode(split(col(textCol), quoted)).as(Seq("pos", "seg")))
    val banned = segs
      .groupBy(xxhash64(col("seg")).as("seg_h"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c") > maxFreq)
      .select(col("seg_h"))
    val kept = segs.withColumn("seg_h", xxhash64(col("seg")))
      .join(banned, Seq("seg_h"), "left_anti")
    val recon = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x("seg")), sep).as("text_dedup"))
    df.select(col(idCol),
        size(split(col(textCol), quoted)).cast("long").as("n_segments"))
      .join(recon, Seq(idCol), "left")
      .select(col(idCol), col("n_segments"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** 64-bit SimHash fingerprint of a token multiset: per-bit weighted vote
    * of token hashes. Built from 64 conditional sums (codegen'd, no UDF). */
  def simhash(text: Column): Column =
    simhashFromHashes(transform(TextAnalysis.tokens(lower(text)), t => xxhash64(t)))

  /** SimHash from a bound token-hash array column (prefer on hot paths:
    * each of the 64 per-bit aggregates references the array once, so pass
    * a materialized column, not an inline expression). */
  def simhashFromHashes(hashes: Column): Column =
    (0 until 64).map { i =>
      val bitVotes = aggregate(
        hashes,
        lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << i)) =!= 0L, lit(1L)).otherwise(lit(-1L)))
      when(bitVotes > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Blocking table for [[simhashPairs]]: number of fingerprint chunks as a
    * function of corpus size. A pair within Hamming distance h agrees on at
    * least (chunks - h) chunks, so blocking on every (chunks - h)-subset of
    * chunks (Manku-style combinatorial blocking) guarantees recall while
    * the per-key population shrinks as 2^(-combined chunk bits):
    *   4 chunks  -> block on single 16-bit chunks,  n/2^16 per bucket
    *   7 chunks  -> block on 4-chunk combos (35),  n/2^37 per bucket
    *   10 chunks -> block on 7-chunk combos (120), n/2^44 per bucket
    * (bucket sizes quoted for maxHamming=3 on uniformly spread hashes). */
  private[dedup] def chunksFor(nDocs: Long): Int =
    if (nDocs <= 500000L) 4
    else if (nDocs <= 500000000L) 7
    else 10

  /** Bit offsets/widths splitting the 64-bit fingerprint into `c` chunks
    * (remainder bits spread over the leading chunks). */
  private[graft] def chunkBounds(c: Int): Seq[(Int, Int)] = {
    val base = 64 / c
    val extra = 64 % c
    val widths = Seq.tabulate(c)(i => if (i < extra) base + 1 else base)
    widths.scanLeft(0)(_ + _).zip(widths).take(c)
  }

  /** SimHash near-dup pairs with combinatorial chunk blocking: a pair
    * within Hamming distance <= maxHamming must agree on at least
    * (chunks - maxHamming) chunks, so every such subset of chunks is a
    * blocking key; Hamming distance is verified exactly on candidates.
    * Output is therefore EXACTLY the pairs at Hamming <= maxHamming,
    * independent of the chunk count — `chunks` only tunes bucket sizes
    * (see [[chunksFor]]; `chunks = 0` picks from the corpus size).
    * Output: (id1, id2, hamming). */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0): DataFrame = {
    val c = if (chunks > 0) chunks else chunksFor(df.count())
    require(c > maxHamming, s"need more chunks ($c) than maxHamming ($maxHamming)")
    // single-pass native tokenize+hash+simhash (the HOF formulation walks
    // the array 64 times interpreted); the fingerprint is computed once,
    // checkpointed as tiny (id, fp) rows, and both self-join sides read
    // the blocks (ReuseExchange does NOT dedup the re-aliased self-join
    // exchanges — see minhashLshPairs)
    val s = graft.plans.Widen(df, factor = 2)
      .select(col(idCol).as("id"),
        call_function("simhash64",
          call_function("xxhash64_tokens", lower(col(textCol)))).as("fp"))
      .localCheckpoint()
    simhashPairsOfFp(s, c, maxHamming)
  }

  /** SimHash near-dup pairs over an ORACLE-STATABLE hash family: each
    * token hashes to the top 60 bits of its md5 (the first 15 hex chars —
    * any engine with an md5 builtin can restate the whole fingerprint in
    * SQL, which is how the DuckDB differential oracle checks this
    * operator end-to-end; xxhash64 is Spark-internal and cannot be). Vote
    * semantics identical to [[simhashFromHashes]] — bits 60-63 never set.
    * Same combinatorial blocking and exact Hamming verification as
    * [[simhashPairs]]; prefer the xxhash64 family when differential
    * testability is not needed (no per-token digest allocation).
    * Output: (id1, id2, hamming). */
  def simhashPairsMd5(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      chunks: Int = 0): DataFrame = {
    val c = if (chunks > 0) chunks else chunksFor(df.count())
    require(c > maxHamming, s"need more chunks ($c) than maxHamming ($maxHamming)")
    val s = graft.plans.Widen(df, factor = 2)
      .select(col(idCol).as("id"),
        call_function("simhash_md5", lower(col(textCol))).as("fp"))
      .localCheckpoint()
    simhashPairsOfFp(s, c, maxHamming)
  }

  /** Shared blocking + verification over a checkpointed (id, fp) table. */
  private def simhashPairsOfFp(s: DataFrame, c: Int, maxHamming: Int): DataFrame = {
    // combo keys: one key per (c - maxHamming)-subset of chunks, the
    // whole key array from ONE generated call (combo table as reference
    // objects). An inline xxhash64-per-combo column formulation would
    // exceed janino's method limit at the 10-chunk tier (120 calls) and
    // silently drop out of whole-stage codegen; PlanSpec pins this
    // compiling cleanly at all tiers.
    val keyed = s.select(col("id"), col("fp"),
      posexplode(call_function("simhash_combo_keys", col("fp"), lit(c), lit(maxHamming)))
        .as(Seq("combo", "key")))
    keyed.alias("a")
      .join(keyed.alias("b"),
        col("a.combo") === col("b.combo") &&
          col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Duplicated-span profile per document — the window-granularity form of
    * EXACT SUBSTRING deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): any token span of
    * length >= w duplicated verbatim across two documents necessarily
    * shares all its w-token windows, so the fraction of a document's
    * distinct w-token windows that also occur in ANOTHER document bounds
    * its duplicated-span mass. Output per doc:
    * (id, total_windows, dup_windows) — exact integers.
    *
    * Scale shape: one codegen'd shingle pass per row, then a single
    * shuffle. With `hashWindows` (the default, the 100 TB path) the
    * shuffle key is the 8-byte xxhash64 of the window instead of the
    * window text itself — at w=8 that shrinks shuffle width ~10x; a
    * cross-doc window-hash collision (probability ~(#windows)^2 / 2^64)
    * is the only divergence from the exact-string grouping. No driver
    * state, no self-join: cost is linear in corpus size plus one
    * hash-aggregate, unlike the suffix-array construction the original
    * paper uses single-node. */
  def spanDuplication(df: DataFrame, textCol: String, idCol: String, w: Int,
      hashWindows: Boolean = true): DataFrame = {
    // hashWindows fast path: the window key is 100% equality-only, so the
    // native expression folds per-token hashes positionally and the
    // window string is NEVER built — the scan emits array<long> straight
    // into the explode (the string plan materialized ~w*avgTokenLen
    // bytes per window before hashing them away)
    // minBytes floor: below ~4 MB the serial shingle pass is cheaper
    // than the round-robin exchange (the exchange cost ~2x the whole
    // operator at bench scale); above it a few-partition input (one big
    // row group, a crossJoin-replicated probe corpus) still widens so
    // the hash kernel parallelizes before the shuffle.
    val base = graft.plans.Widen(df, factor = 2, minBytes = 4L << 20)
    // The window below inserts its own AQE-managed wkey exchange, so the
    // operator is two exchanges when the widen skips, three when it
    // fires. (An explicit repartition(wkey) here would fuse the widen
    // into the window's exchange, but a pinned repartition opts out of
    // AQE coalescing and measured ~1.5x slower at the 500k probe.)
    val wins =
      if (hashWindows)
        base.select(col(idCol).as("id"),
          explode(call_function("word_window_hashes", col(textCol), lit(w)))
            .as("wkey"))
      else {
        val s = shingled(base, textCol, idCol, w)
        s.select(col("id"), explode(col("shingles")).as("win"))
          .select(col("id"),
            (if (hashWindows) xxhash64(col("win")) else col("win")).as("wkey"))
      }
    // Single-consumer pipeline: the per-window doc count is a COUNT
    // window over the wkey partition, so (id, wkey) flows through ONE
    // scan+shingle pass, one wkey shuffle (plus the cheap 8-byte-key
    // partition sort WindowExec needs), and one id shuffle for the
    // rollup. The earlier groupBy+join formulation read `wins` from two
    // consumers, which forced an eager localCheckpoint barrier (Catalyst
    // re-aliases the subtrees, so ReuseExchange never fires) — an extra
    // materialization job plus a write-and-read-back of every window
    // row. shingled() emits DISTINCT windows per doc, so the partition
    // row count IS the sharing-doc count, and a hot window (one wkey
    // shared by millions of docs) only makes WindowExec spill its
    // buffered partition — no collect, no skewed join.
    val nd = count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("wkey")))
    wins.withColumn("nd", nd)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("total_windows"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("dup_windows"))
      .select(col("id"), col("total_windows"), col("dup_windows"))
  }
}

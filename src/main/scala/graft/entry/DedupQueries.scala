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

/** Deduplication family: exact, MinHash/LSH, SimHash, span/segment dedup, decontamination, leakage-safe splits.
  *
  * One of the per-package query registries aggregated by
  * [[graft.SparkEntry]] — split out of the former 6k-LoC single object
  * so each registry compiles to a bounded class (static-init and
  * JIT/class-loading pressure were the bench's named suspect).
  * Query semantics, ids and oracle SQL are unchanged by the split.
  */
private[graft] object DedupQueries {

  /** Dedup (exact): hash-group identical texts, keep min doc_id. */
  private def q16_dedup_exact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(s, dir, "documents"), "text", "doc_id")

  /** Dedup (n-gram Jaccard, exact): word-2-shingles, integer-exact
    * threshold jaccard > 1/3. */
  private def q19_ngram_jaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
      k = 2, num = 1, den = 3)

  /** Dedup (MinHash+LSH): banded signatures, candidates verified with
    * exact Jaccard. The verified output is exact; the banding only
    * bounds RECALL — and on this corpus (planted near-dups carry high
    * Jaccard, so every true pair collides in some band) recall is 1, so
    * the oracle states the FULL exact-Jaccard pair set (q19's). The
    * hash-compare therefore also guards the banding's recall: a silent
    * recall loss now fails the gate instead of hiding in a rows-only
    * count. */
  private def q25_minhash_lsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(t(s, dir, "documents"), "text", "doc_id",
      k = 2, numHashes = 32, bands = 8, num = 1, den = 3)

  /** Dedup (SimHash): 60-bit md5-family fingerprint, combinatorially
    * chunk-blocked Hamming pairs. Blocking guarantees full recall at
    * hamming <= maxHamming and verification is exact, so the output is
    * EXACTLY the Hamming ball — and with the md5 hash family the oracle
    * restates the whole fingerprint pipeline in SQL (DuckDB md5 + bit
    * ops) and hash-compares it. chunks pinned to the ≤500k-doc table
    * entry (what auto-detection picks at every driver SF) to skip the
    * sizing count on the bench path; the auto table and the xxhash64
    * family are exercised by DedupStrategySpec and the 500k probe. */
  private def q26_simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsMd5(t(s, dir, "documents"), "text", "doc_id", maxHamming = 3,
      chunks = 4)

  /** Dedup decision step: near-dup pairs -> clusters -> representative per
    * document (min id; itself when unpaired). Composes q19's exact pairs
    * with connected components; oracle closes the pair graph recursively. */
  private def q65_dedup_keep(s: SparkSession, dir: String): DataFrame =
    Dedup.representatives(
      t(s, dir, "documents").select(col("doc_id")),
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "text", "doc_id",
        k = 2, num = 1, den = 3))

  /** Benchmark decontamination (GPT-3 §C n-gram rule, n=3 at test scale):
    * training docs (doc_id >= 20) flagged by distinct shingle collisions
    * with the benchmark slice (doc_id < 20). */
  private def q79_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    graft.dedup.Decontamination.overlapReport(
      docs.where(col("doc_id") >= 20), "doc_id", "text",
      docs.where(col("doc_id") < 20), "doc_id", "text", n = 3)
  }

  /** Exact-substring dedup profile at window granularity (Lee et al.
    * 2022): per document, distinct 8-token windows and how many also
    * occur verbatim in another document — one codegen shingle pass and
    * one hash-keyed shuffle, no self-join. */
  private def q82_span_dedup(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.spanDuplication(t(s, dir, "documents"), "text", "doc_id", w = 8)
      .select(col("id").as("doc_id"), col("total_windows"), col("dup_windows"))

  /** Benchmark-contamination scan (training-pipeline extension): distinct
    * 5-gram overlap between every training document and a held-out eval
    * slice (doc_id ≡ 0 mod 97). The eval gram set is aggregated and
    * BROADCAST — eval suites are small by construction — so the scan-side
    * join is shuffle-free; at 100 TB the join key becomes the 8-byte
    * xxhash64 of the gram (string keys kept here for oracle parity). */
  private def q100_contamination(s: SparkSession, dir: String): DataFrame = {
    // the native shingle pass emits each doc's distinct 5-grams; its one
    // divergence from distinct 5-grams (a single shorter tail gram when
    // the doc has < 5 tokens) is cut off by the token-count guard
    val grams = t(s, dir, "documents")
      .where(size(TextAnalysis.tokens(col("text"))) >= 5)
      .select(col("doc_id"),
        explode(call_function("word_shingles", col("text"), lit(5))).as("g"))
    val evalGrams = grams.where(col("doc_id") % 97 === 0)
      .select(col("g")).distinct()
    // Broadcast the eval side only while the eval SLICE is broadcast-
    // sized (input stats — the aggregated gram set has no reliable
    // estimate): real eval suites are tiny, but a fixed fraction of a
    // 100 TB corpus is not, and past the gate the plan falls back to a
    // shuffled join that AQE still converts to broadcast at runtime when
    // the actual built side turns out small.
    val evalSized =
      if (t(s, dir, "documents").where(col("doc_id") % 97 === 0)
          .queryExecution.optimizedPlan.stats.sizeInBytes < (1L << 26))
        broadcast(evalGrams.withColumn("hit", lit(1)))
      else evalGrams.withColumn("hit", lit(1))
    grams.where(col("doc_id") % 97 =!= 0)
      .join(evalSized, Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(col("hit")).as("n_contaminated"))
  }

  /** End-to-end fuzzy-dedup keep list (the near-dup analogue of q96's
    * exact-dup canonicalization): MinHash+LSH candidate pairs (q25's
    * operator), connected components over the surviving edges, min-id
    * keeper per cluster, keep flag. Composes three oracle-checked
    * operators; the oracle restates the pair set exactly (LSH recall is
    * total on this corpus) and closes it with a recursive CTE. */
  private def q101_fuzzy_keeplist(s: SparkSession, dir: String): DataFrame =
    graft.dedup.FuzzyClusters.minhashClusters(
        t(s, dir, "documents"), "text", "doc_id",
        k = 2, numHashes = 32, bands = 8, num = 1, den = 3)
      .select(col("doc_id"), col("cluster_id").as("component"),
        col("is_keeper").as("keep"))

  /** CCNet-style segment-frequency boilerplate removal
    * ([[graft.dedup.Dedup.dedupSegments]]): segments whose corpus-wide
    * count exceeds 2 are dropped from every document and the text is
    * reconstructed in original segment order. The synthetic docs are
    * single-line, so the exercised separator is the token ` the ` —
    * at sf0.01 that yields 1266 segments of which 8 distinct (27
    * occurrences) cross the threshold, i.e. the gate genuinely bites. */
  private def q114_segment_dedup(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.dedupSegments(
      t(s, dir, "documents"), "text", "doc_id", " the ", maxFreq = 2)

  /** q200: leakage-safe train/val/test split — whole near-duplicate
    * clusters (q101's components) assigned to splits so no cluster
    * straddles a boundary; split key pinned to the cluster id modulus
    * so the oracle restates it verbatim (production uses the avalanched
    * hash default — see Sampling.leakageSafeSplit's scaladoc). */
  private def q200_leakage_split(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.leakageSafeSplit(
      graft.dedup.FuzzyClusters.minhashClusters(
          t(s, dir, "documents"), "text", "doc_id",
          k = 2, numHashes = 32, bands = 8, num = 1, den = 3)
        .select(col("doc_id"), col("cluster_id").as("component")),
      "component", Seq(7, 2, 1), splitKey = col("component"))

  private[graft] val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q16_dedup_exact" -> (q16_dedup_exact _),
    "q19_ngram_jaccard" -> (q19_ngram_jaccard _),
    "q25_minhash_lsh" -> (q25_minhash_lsh _),
    "q26_simhash" -> (q26_simhash _),
    "q65_dedup_keep" -> (q65_dedup_keep _),
    "q79_decontaminate" -> (q79_decontaminate _),
    "q82_span_dedup" -> (q82_span_dedup _),
    "q100_contamination" -> (q100_contamination _),
    "q101_fuzzy_keeplist" -> (q101_fuzzy_keeplist _),
    "q114_segment_dedup" -> (q114_segment_dedup _),
    "q200_leakage_split" -> (q200_leakage_split _))

  private[graft] val oracleSql: ListMap[String, String] = ListMap(
    "q16_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dups
        |FROM documents GROUP BY text""".stripMargin,
    "q19_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |  FROM toks WHERE len(ts) >= 2
        |), sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle FROM idx
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT id1, id2 FROM inter
        |JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |WHERE 3 * inter > 1 * (sa.n + sb.n - inter)""".stripMargin,
    // q25: the LSH-banded pairs equal the full exact-Jaccard pair set on
    // this corpus (recall 1 — planted near-dups carry high Jaccard), so
    // the oracle is q19's; a banding recall loss now FAILS the gate.
    "q25_minhash_lsh" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |  FROM toks WHERE len(ts) >= 2
        |), sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle FROM idx
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |)
        |SELECT id1, id2 FROM inter
        |JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |WHERE 3 * inter > 1 * (sa.n + sb.n - inter)""".stripMargin,
    // q26: full md5-family simhash restated in SQL — token hash = top 60
    // bits of md5 (first 15 hex chars), per-bit majority vote, exact
    // Hamming ball over the fingerprints (blocking guarantees recall).
    "q26_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), tok AS (
        |  SELECT doc_id, unnest(ts) AS t FROM toks
        |), th AS (
        |  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
        |), votes AS (
        |  SELECT doc_id, b,
        |    sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th, generate_series(0, 59) g(b)
        |  GROUP BY doc_id, b
        |), fp AS (
        |  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END) AS fp
        |  FROM votes GROUP BY doc_id
        |)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  bit_count(xor(a.fp, b.fp)) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    "q65_dedup_keep" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |  FROM toks WHERE len(ts) >= 2
        |), sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle FROM idx
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |  WHERE 3 * inter > 1 * (sa.n + sb.n - inter)
        |), sym AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs
        |), reach(a, b) AS (
        |  SELECT a, b FROM sym
        |  UNION
        |  SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
        |)
        |SELECT d.doc_id AS id,
        |  least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS keep_id
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id""".stripMargin,
    "q79_decontaminate" ->
      """WITH d AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[\s[:punct:]]+'),
        |    x -> len(x) > 0) AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS sh
        |  FROM (SELECT doc_id, ts,
        |          unnest(generate_series(1, greatest(len(ts) - 2, 1))) AS i
        |        FROM d WHERE len(ts) > 0)
        |  WHERE len(array_to_string(ts[i:i+2], ' ')) > 0
        |), tr AS (SELECT * FROM sh WHERE doc_id >= 20),
        |be AS (SELECT * FROM sh WHERE doc_id < 20)
        |SELECT tr.doc_id,
        |  CAST(count(DISTINCT tr.sh) AS BIGINT) AS n_hits,
        |  CAST(count(DISTINCT be.doc_id) AS BIGINT) AS n_bench_docs
        |FROM tr JOIN be ON tr.sh = be.sh
        |GROUP BY tr.doc_id""".stripMargin,
    "q82_span_dedup" ->
      // window semantics mirror word_shingles: indices 1..max(n-8,0)+1,
      // slice capped at the tail (short docs emit one short window),
      // DISTINCT per doc; the engine groups by xxhash64(window) instead
      // of the window text (same partition modulo 2^-64 collisions)
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, greatest(len(ts) - 8, 0) + 1)) AS i
        |  FROM toks WHERE len(ts) >= 1
        |), wins AS (
        |  SELECT DISTINCT doc_id, array_to_string(ts[i:least(i + 7, len(ts))], ' ') AS win FROM idx
        |), nd AS (
        |  SELECT win, count(*) AS n FROM wins GROUP BY win
        |)
        |SELECT w.doc_id,
        |  CAST(count(*) AS BIGINT) AS total_windows,
        |  CAST(sum(CASE WHEN nd.n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_windows
        |FROM wins w JOIN nd USING (win)
        |GROUP BY w.doc_id""".stripMargin,
    "q100_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), sh AS (
        |  SELECT DISTINCT doc_id,
        |    ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' || ts[i+4] AS g
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 4)) AS i
        |        FROM toks WHERE len(ts) >= 5)
        |), ev AS (
        |  SELECT DISTINCT g FROM sh WHERE doc_id % 97 = 0
        |)
        |SELECT s.doc_id, CAST(count(e.g) AS BIGINT) AS n_contaminated
        |FROM sh s LEFT JOIN ev e ON s.g = e.g
        |WHERE s.doc_id % 97 <> 0
        |GROUP BY 1""".stripMargin,
    "q101_fuzzy_keeplist" ->
      // the engine runs LSH-banded candidates; recall is total on this
      // corpus, so the oracle states the exact-Jaccard pair set (q25's
      // oracle) and closes it into components with a recursive CTE
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |  FROM toks WHERE len(ts) >= 2
        |), sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle FROM idx
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |  WHERE 3 * inter > 1 * (sa.n + sb.n - inter)
        |), edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)
        |SELECT d.doc_id,
        |  CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component,
        |  CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) = d.doc_id AS INT) AS keep
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id""".stripMargin,
    // q114: exact segment-frequency semantics (the engine counts on
    // xxhash64(segment) — collision-free at any realistic corpus size,
    // identical here)
    "q114_segment_dedup" ->
      """WITH l AS (
        |  SELECT doc_id,
        |    unnest(string_split(text, ' the ')) AS seg,
        |    unnest(generate_series(1, len(string_split(text, ' the ')))) AS pos
        |  FROM documents
        |), b AS (
        |  SELECT seg FROM l GROUP BY seg HAVING count(*) > 2
        |), k AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    string_agg(seg, ' the ' ORDER BY pos) AS text_dedup
        |  FROM l WHERE seg NOT IN (SELECT seg FROM b)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(len(string_split(d.text, ' the ')) AS BIGINT) AS n_segments,
        |  coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.text_dedup, '') AS text_dedup
        |FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id""".stripMargin,
    // q200: q101's recursive-CTE component closure, then the pinned
    // cluster-id-modulus split (weights 7/2/1 over 10 cells) — the
    // leakage guarantee is structural: split is a function of component
    "q200_leakage_split" ->
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |  FROM toks WHERE len(ts) >= 2
        |), sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] AS shingle FROM idx
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |), pairs AS (
        |  SELECT id1, id2 FROM inter
        |  JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2
        |  WHERE 3 * inter > 1 * (sa.n + sb.n - inter)
        |), edges AS (
        |  SELECT id1 AS a, id2 AS b FROM pairs
        |  UNION SELECT id2, id1 FROM pairs
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), comp AS (
        |  SELECT d.doc_id,
        |    CAST(LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS BIGINT) AS component
        |  FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |  GROUP BY d.doc_id
        |)
        |SELECT doc_id, component,
        |  CAST(CASE WHEN component % 10 < 7 THEN 0
        |            WHEN component % 10 < 9 THEN 1
        |            ELSE 2 END AS INT) AS split
        |FROM comp""".stripMargin
  )
}

package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis columns for a large-scale document pipeline: tokenizing,
  * counting, quality scoring, language-ID heuristics, fingerprinting.
  *
  * Everything here is built from codegen'd `org.apache.spark.sql.functions`
  * (no Scala UDFs on the hot path), so whole-stage codegen spans the full
  * pipeline and the work distributes with the scan. Normalization semantics
  * follow the reference's text utilities
  * (`utilities/src/main/com/thymeflow/utilities/text/Normalization.scala:14-33`:
  * lowercase + diacritic strip + whitespace collapse) and its tokenizer
  * (`thymeflow/src/main/com/thymeflow/enricher/entityresolution/EntityResolution.scala:39-40`:
  * split on punctuation/space).
  */
object TextAnalysis {

  /** Vocabulary builder — the tokenizer-training prep step: global token
    * counts, a frequency floor, the top-K entries, and dense token ids
    * in (count desc, token asc) order. The count and top-K selection are
    * fully distributed (hash-partitioned aggregation, per-partition
    * top-K merge via `orderBy.limit`); only the id-assignment window
    * runs single-partition — on the ALREADY-BOUNDED K rows, which is the
    * point of a vocabulary (K ≈ 10⁴–10⁵ however big the corpus).
    * Output: (tok, cnt, token_id). */
  def vocab(df: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int, minCount: Long): org.apache.spark.sql.DataFrame = {
    require(topK > 0, "topK must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("tok").asc)
    df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(topK)
      .withColumn("token_id", row_number().over(w).cast("long"))
  }

  /** Tokens: split on whitespace/punctuation runs, drop empties. */
  def tokens(text: Column): Column =
    filter(split(text, "[\\s\\p{Punct}]+"), t => length(t) > 0)

  /** Whitespace token count (exact, integer — safe for differential tests). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Overlapping per-document token chunking — the retrieval/embedding
    * prep step (chunk size in tokens, fixed stride; stride < size gives
    * the usual overlap). One output row per chunk: (idCol, chunk_idx,
    * chunk_text, n_tokens); the final chunk may be short; empty documents
    * yield no rows. Distinct from [[Packing]] (cross-document
    * concat-and-chunk at a token budget): chunks here never cross a
    * document boundary. Pure projection + bounded explode (fan-out
    * ceil(n/stride)) — shuffle-free at any corpus size. */
  def chunkTokens(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, chunkSize: Int, stride: Int,
      maxChunks: Int = Int.MaxValue): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    require(maxChunks > 0, "maxChunks must be positive")
    df.select(col(idCol), tokens(col(textCol)).as("__ts"))
      .withColumn("__k",
        when(size(col("__ts")) > 0,
          least(lit(maxChunks.toLong - 1),
            floor((size(col("__ts")) - 1).cast("long") / stride)))
          .otherwise(lit(-1L)))
      .withColumn("chunk_idx",
        explode(when(col("__k") >= 0, sequence(lit(0L), col("__k")))
          .otherwise(lit(Array.empty[Long]))))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__ts"),
          (col("chunk_idx") * stride + 1).cast("int"), lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize.toLong),
          size(col("__ts")).cast("long") - col("chunk_idx") * stride)
          .as("n_tokens"))
  }

  /** Distinct word-k-shingles from a precomputed token array.
    *
    * IMPORTANT: take a *bound* token column, not `tokens(text)` inline —
    * an expression argument referenced inside a higher-order-function
    * lambda is re-evaluated per element (no common-subexpression
    * elimination in expression eval), which turns one regex split per row
    * into one per token. Callers should project the token array first. */
  def wordShinglesFromTokens(t: Column, k: Int): Column =
    array_distinct(
      filter(
        transform(
          sequence(lit(0), greatest(size(t) - k, lit(0))),
          i => concat_ws(" ", slice(t, i + 1, lit(k)))),
        s => length(s) > 0))

  /** Distinct word-k-shingles of a text (convenience; see the note on
    * [[wordShinglesFromTokens]] — prefer the two-step projection on hot
    * paths). */
  def wordShingles(text: Column, k: Int): Column =
    wordShinglesFromTokens(tokens(text), k)

  /** Raw (non-distinct) word-k-gram occurrence list from a bound token
    * array — repetition profiling needs every occurrence, unlike the
    * dedup shingles. Strictly empty when the text has fewer than k
    * tokens (no partial tail gram), so counts line up with a
    * `len(ts) >= k` SQL oracle. Same binding caveat as
    * [[wordShinglesFromTokens]]: pass a projected attribute. */
  def rawShingles(t: Column, k: Int): Column =
    when(size(t) >= k,
      transform(sequence(lit(0), size(t) - k),
        i => concat_ws(" ", slice(t, i + 1, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** Occurrence count of the most frequent element of a SORTED array, as
    * a run-length scan inside `aggregate` — per-row, no explode, no
    * shuffle. 0 for an empty array. Elements must be non-empty strings
    * (the "" init sentinel never equals a real gram). */
  def topRunCount(sorted: Column): Column =
    aggregate(
      sorted,
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Character-k-shingles (for near-dup detection on short texts). */
  def charShingles(text: Column, k: Int): Column = {
    val n = length(text)
    array_distinct(
      transform(
        sequence(lit(1), greatest(n - (k - 1), lit(1))),
        i => text.substr(i, lit(k))))
  }

  /** Lowercase, collapse whitespace, trim (reference Normalization.scala). */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** BPE-ish sub-word token count: words plus punctuation marks counted
    * separately, long words counted as ceil(len/4) pieces — a deterministic
    * stand-in for a real tokenizer's piece count. Backed by the native
    * single-pass `quality_stats` struct (requires the graft extensions);
    * [[bpeishTokenCountCols]] is the column-built differential reference. */
  def bpeishTokenCount(text: Column): Column = {
    val q = qualityStats(text, Nil)
    q.getField("n_word_pieces") + q.getField("n_punct").cast("long")
  }

  private[graft] def bpeishTokenCountCols(text: Column): Column = {
    val words = tokens(text)
    val wordPieces = aggregate(
      transform(words, w => ceil(length(w).cast("double") / 4d).cast("long")),
      lit(0L),
      (acc, x) => acc + x)
    val punct = size(filter(split(text, ""), c => c.rlike("\\p{Punct}")))
    wordPieces + punct.cast("long")
  }

  /** Stopword hit count (exact int) — building block of quality scores. */
  def stopwordCount(text: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(lower(text)), t => array_contains(sw, t)))
  }

  /** The native single-pass `quality_stats` struct (requires the graft
    * extensions): every [[qualityMetrics]] count in ONE text scan. Use
    * this (or the derived metrics below) on hot paths — each metric as a
    * separate column re-runs the tokenize regex per metric, because
    * Catalyst's subexpression elimination skips lambda-bearing trees
    * (SPARK-35410). Identical struct subtrees ARE eliminated, so getField
    * projections off one [[qualityStats]] call evaluate it once per row. */
  def qualityStats(text: Column, stopwords: Seq[String]): Column =
    call_function("quality_stats", text, array(stopwords.map(lit): _*))

  /** Document quality heuristics (exact integer counts so results are
    * stable across engines): chars, tokens, distinct tokens, stopword hits,
    * punctuation chars, digit chars, max token length. Backed by the
    * native single-pass struct; [[qualityMetricsCols]] is the column-built
    * differential reference. */
  def qualityMetrics(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val q = qualityStats(text, stopwords)
    Seq("n_chars_measured", "n_tokens", "n_distinct_tokens", "n_stopwords",
      "n_punct", "n_digits", "max_token_len").map(f => f -> q.getField(f))
  }

  private[graft] def qualityMetricsCols(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = Seq(
    "n_chars_measured" -> length(text),
    "n_tokens" -> tokenCount(text),
    "n_distinct_tokens" -> size(array_distinct(tokens(lower(text)))),
    "n_stopwords" -> stopwordCount(text, stopwords),
    "n_punct" -> (length(text) - length(regexp_replace(text, "\\p{Punct}", ""))),
    "n_digits" -> (length(text) - length(regexp_replace(text, "[0-9]", ""))),
    "max_token_len" -> coalesce(array_max(transform(tokens(text), t => length(t))), lit(0))
  )

  /** Quality score in [0,1]: penalizes very short docs, low lexical
    * diversity, and stopword-free (likely non-linguistic) text. Ratios are
    * computed per-row from exact ints (deterministic IEEE ops), all read
    * off ONE [[qualityStats]] evaluation. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val q = qualityStats(text, stopwords)
    val nTok = q.getField("n_tokens").cast("double")
    val diversity = q.getField("n_distinct_tokens").cast("double") / greatest(nTok, lit(1d))
    val stopRatio = q.getField("n_stopwords").cast("double") / greatest(nTok, lit(1d))
    val lenOk = when(nTok >= 5, lit(1d)).otherwise(nTok / 5d)
    round(lenOk * (lit(0.5) + lit(0.5) * diversity) * (lit(0.5) + least(stopRatio * 5d, lit(0.5))), 6)
  }

  private[graft] def qualityScoreCols(text: Column, stopwords: Seq[String]): Column = {
    val nTok = tokenCount(text).cast("double")
    val diversity = size(array_distinct(tokens(lower(text)))).cast("double") / greatest(nTok, lit(1d))
    val stopRatio = stopwordCount(text, stopwords).cast("double") / greatest(nTok, lit(1d))
    val lenOk = when(nTok >= 5, lit(1d)).otherwise(nTok / 5d)
    round(lenOk * (lit(0.5) + lit(0.5) * diversity) * (lit(0.5) + least(stopRatio * 5d, lit(0.5))), 6)
  }

  /** Trigram-profile language ID ([[LangId]], Cavnar-Trenkle) as a native
    * codegen expression. */
  def langId(text: Column): Column = call_function("lang_id", text)

  /** Gopher-style quality-filter signals (Rae et al., "Scaling Language
    * Models: ... Gopher", 2021, Appendix A — the public rule set): all
    * outputs are exact integers so the pass/fail decision is stated in
    * integer arithmetic (`3·n ≤ Σlen ≤ 10·n` for the mean-word-length
    * band, etc.) and differential-testable against a SQL oracle.
    * Words are whitespace tokens (Gopher's definition), lines are
    * newline-separated. */
  /** The native single-pass `gopher_stats` struct (requires the graft
    * extensions): every [[gopherCounts]] signal, the stopword-hit count,
    * and the [[gopherPasses]] decision (`passes`, int 1/0) in ONE text
    * scan. This is the form a quality GATE must use: Catalyst inlines
    * project aliases into pushed-down filters with no cost check, so a
    * WHERE built from the per-signal columns re-runs the split regex once
    * per signal — `gopherStats(c, stops).getField("passes") === 1` is a
    * single-reference predicate, one evaluation per row wherever the
    * filter lands. */
  def gopherStats(text: Column, stopwords: Seq[String]): Column =
    call_function("gopher_stats", text, array(stopwords.map(lit): _*))

  def gopherCounts(text: Column): Seq[(String, Column)] = {
    val words = filter(split(text, "\\s+"), w => length(w) > 0)
    val lines = split(text, "\n")
    Seq(
      "n_words" -> size(words).cast("long"),
      "sum_word_len" ->
        aggregate(words, lit(0L), (acc, w) => acc + length(w)).cast("long"),
      "n_alpha_words" ->
        size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long"),
      "n_symbol_words" ->
        size(filter(words, w => w.contains("#") || w.contains("..."))).cast("long"),
      "n_lines" -> size(lines).cast("long"),
      "n_bullet_lines" ->
        size(filter(lines, l =>
          ltrim(l).startsWith("•") || ltrim(l).startsWith("- ") ||
            ltrim(l).startsWith("* "))).cast("long"),
      "n_ellipsis_lines" ->
        size(filter(lines, l => l.endsWith("..."))).cast("long"))
  }

  /** The Gopher pass/fail decision from [[gopherCounts]] plus a stopword
    * presence count, in pure integer arithmetic. */
  def gopherPasses(m: Map[String, Column], nStopHits: Column): Column =
    (m("n_words") >= 50 && m("n_words") <= 100000 &&
      m("sum_word_len") >= m("n_words") * 3 &&
      m("sum_word_len") <= m("n_words") * 10 &&
      m("n_symbol_words") * 10 <= m("n_words") &&
      // Rae et al. 2021 Appendix A: remove when MORE THAN 90% of lines
      // are bulleted (round 10 fixed an inverted <=10% reading that
      // over-filtered ordinary list-bearing documents)
      m("n_bullet_lines") * 10 <= m("n_lines") * 9 &&
      m("n_ellipsis_lines") * 10 <= m("n_lines") * 3 &&
      m("n_alpha_words") * 5 >= m("n_words") * 4 &&
      nStopHits >= 2).cast("int")

  /** Content fingerprint for exact dedup: md5 of the normalized text.
    * (Reference mints SHA1-based IRIs — UUIDConverter.scala:10-42; md5 is
    * used here because both Spark and the DuckDB oracle implement it.) */
  def fingerprint(text: Column): Column = md5(normalize(text))

  /** Rolling-hash document fingerprint: xxhash64 over the shingle set,
    * combined order-independently (bitwise XOR via aggregate). */
  def rollingFingerprint(text: Column, k: Int = 3): Column =
    aggregate(
      transform(wordShingles(text, k), s => xxhash64(s)),
      lit(0L),
      (acc, h) => acc.bitwiseXOR(h))

  /** Okapi BM25 relevance of every document against a fixed term set
    * (Robertson & Zaragoza 2009) — the retrieval-side sibling of the IDF
    * table. tf/dl are exact integers; avgdl is a sum-of-integers mean
    * (exact in double), so the float math is reproducible across engines
    * and the score is rounded to 6 places for differential comparison.
    *
    * Scale shape: one token pass (checkpointed — corpus stats and term
    * frequencies read the same materialization), per-term df and the
    * (n, avgdl) scalar broadcast; no shuffle wider than the matched
    * (doc, term) pairs. Output: (id, score), matched docs only. */
  def bm25(docs: DataFrame, textCol: String, idCol: String,
      terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .withColumn("dl", size(col("ts")))
      .where(col("dl") > 0)
      .localCheckpoint()
    val stats = toks.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
    val tf = toks.select(col("id"), col("dl"), explode(col("ts")).as("tok"))
      .where(col("tok").isin(terms: _*))
      .groupBy(col("id"), col("dl"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(countDistinct(col("id")).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("w",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy(col("id")).agg(round(sum(col("w")), 6).as("score"))
  }
}

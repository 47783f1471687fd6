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

/** Text analysis and curation: language-id, quality/Gopher signals, BM25, BPE, packing, sampling/mixtures, PII, fingerprinting.
  *
  * One of the per-package query registries aggregated by
  * [[graft.SparkEntry]] — split out of the former 6k-LoC single object
  * so each registry compiles to a bounded class (static-init and
  * JIT/class-loading pressure were the bench's named suspect).
  * Query semantics, ids and oracle SQL are unchanged by the split.
  */
private[graft] object TextQueries {

  /** Text analysis: exact token counts (whitespace/punct tokenizer). */
  private def q17_token_count(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tokens"))

  /** Text fingerprinting: md5 of normalized text (exact string). */
  private def q18_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))

  /** Text quality metrics: exact integer counts + BPE-ish piece count. */
  private def q48_quality(s: SparkSession, dir: String): DataFrame = {
    val m = TextAnalysis.qualityMetrics(col("text"),
      Seq("the", "a", "of", "and")).toMap
    t(s, dir, "documents").select(
      col("doc_id"),
      m("n_tokens").as("n_tokens"),
      m("n_distinct_tokens").as("n_distinct_tokens"),
      m("n_stopwords").as("n_stopwords"),
      m("max_token_len").as("max_token_len"),
      TextAnalysis.bpeishTokenCount(col("text")).as("n_pieces"))
  }

  /** Language identification (trigram-profile classifier, LangId): language
    * distribution over the documents corpus. Oracle-checked the q76 way
    * (r13 verdict #2): the compiled-in model — trigram → (lang, lang_rank,
    * weight) — is emitted as a parquet fixture and the oracle restates the
    * whole Cavnar-Trenkle scoring in SQL over it (normalize: lowercase,
    * non-letter runs → one space, space-pad; slide every trigram window;
    * sum profile weights per language; argmax with ties to the lowest
    * lang_rank; 'und' when no profile trigram occurs). The corpus is
    * ASCII, so lower()/\p{L} agree exactly between engines; astral code
    * points are classed non-letter on both sides (Java sees them as
    * surrogate chars, the SQL regex strips them explicitly). The kernel
    * is additionally pinned to 8-language fixtures in TextAnalysisSpec. */
  private def q70_langid(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.text.LangId.profileTable
      .toDF("tri", "lang", "lang_rank", "weight")
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(EntryKit.fixtureDir(dir) + "/q70_trigram_profile.parquet")
    t(s, dir, "documents")
      .select(graft.text.TextAnalysis.langId(col("text")).as("lang"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
  }

  /** Gopher-style quality filter signals + decision (public rule set) —
    * exact integer counts and an integer-arithmetic pass flag, fully
    * SQL-stateable. */
  private def q71_gopher_quality(s: SparkSession, dir: String): DataFrame = {
    // all 9 outputs are getFields off ONE native gopher_stats evaluation
    // (identical struct subtrees are subexpression-eliminated in codegen)
    val g = TextAnalysis.gopherStats(col("text"), Seq("the", "a", "of", "and"))
    t(s, dir, "documents").select(
      (Seq(col("doc_id")) ++
        Seq("n_words", "sum_word_len", "n_alpha_words", "n_symbol_words",
          "n_lines", "n_bullet_lines", "n_ellipsis_lines")
          .map(f => g.getField(f).as(f)) ++
        Seq(g.getField("n_stop_hits").as("n_stop_hits"),
          g.getField("passes").as("passes"))): _*)
  }

  /** Corpus-trained character-trigram LM statistics (the CCNet-style
    * quality dimension): exact rare-trigram counts per doc; the float
    * avg-logprob stays out of the oracle columns. */
  private def q77_lm_score(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val model = graft.text.CorpusLm.trigramCounts(docs, "text")
    graft.text.CorpusLm.scoreDocs(docs, "doc_id", "text", model, rareMax = 2)
      .select(col("doc_id"), col("n_tri"), col("n_distinct_tri"), col("n_rare"))
  }

  /** Gopher repetition signals: duplicate-line counts/chars + top word
    * bigram frequency — integer-exact. */
  private def q78_repetition(s: SparkSession, dir: String): DataFrame =
    graft.text.Repetition.signals(t(s, dir, "documents"), "doc_id", "text")

  /** GPT-style concat-and-chunk sequence packing: token cumsum over
    * doc_id order, 512-token chunks, span/boundary bookkeeping — exact
    * integers via the distributed two-pass prefix sum. */
  private def q80_packing(s: SparkSession, dir: String): DataFrame =
    graft.text.Packing.concatChunks(
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok")),
      "doc_id", "n_tok", capacity = 512)

  /** Deterministic stratified corpus sampling (mixture weights): token-
    * count buckets sampled at 25%/50%/100% via the engine-independent
    * Knuth draw — kept set and uniforms are exact integers. */
  private def q85_stratified_sample(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_tok"))
      .withColumn("bucket",
        when(col("n_tok") < 40, "short")
          .when(col("n_tok") < 70, "medium").otherwise("long"))
    graft.text.Sampling.stratifiedSample(d, "doc_id", "bucket",
        Map("short" -> 0.25, "medium" -> 0.5))
      .select(col("doc_id"), col("bucket"), col("u"))
  }

  /** Corpus vocabulary statistics: top-50 word bigrams by occurrence
    * count (every occurrence, not per-doc distinct), deterministic
    * tie-break — executes as TakeOrderedAndProject, no global sort. */
  private def q86_top_bigrams(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(TextAnalysis.tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2) // sequence(0, n) descends when n < 0
      .select(explode(expr(
        "transform(sequence(0, size(t)-2), i -> concat(t[i], ' ', t[i+1]))"))
        .as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc)
      .limit(50)

  /** Okapi BM25 scoring of every document against a fixed term set —
    * reproducible float math, rounded to 6 places on both sides. */
  private def q88_bm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(t(s, dir, "documents"), "text", "doc_id",
      Seq("spark", "table", "query"))
      .select(col("id").as("doc_id"), col("score"))

  /** PII redaction (round 6): the scrubbing pass of a training-data
    * pipeline — emails/IPv4s/phones detected and replaced in one
    * map-only codegen pass ([[graft.text.Pii]]). The PII-bearing text is
    * derived from customer columns by the SAME concat stated in the
    * oracle, so the redaction itself is what parity-checks. */
  private def q94_pii_redact(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "customer").select(
      col("c_custkey"),
      concat(col("c_name"), lit(" <u"), col("c_custkey").cast("string"),
        lit("@mail"), (col("c_custkey") % 7).cast("string"),
        lit(".org> tel +1-555-00"), col("c_custkey").cast("string"),
        lit(" at 10.0."), col("c_nationkey").cast("string"),
        lit("."), (col("c_custkey") % 256).cast("string")).as("text"))
    graft.text.Pii.redact(src, "text")
      .select(col("c_custkey"), col("redacted"),
        col("n_emails").cast("long").as("n_emails"),
        col("n_ips").cast("long").as("n_ips"),
        col("n_phones").cast("long").as("n_phones"))
  }

  /** URL hygiene (round 6): host/registrable-domain extraction, URL
    * normalization and blocklist flagging over derived URLs
    * ([[graft.text.Urls]]) — like q94, the derivation is stated
    * identically in the oracle so the classification itself is what
    * parity-checks. Map-only codegen; no shuffle. */
  private def q95_url_classify(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "customer").select(
      col("c_custkey"),
      concat(lit("https://WWW.Site"), (col("c_custkey") % 50).cast("string"),
        lit(".com/item/"), col("c_custkey").cast("string"),
        when(col("c_custkey") % 3 === 0, lit("/#sec"))
          .otherwise(lit("?ref=mail"))).as("url"))
    graft.text.Urls.classify(src, "url", Seq("site7.com", "site13.com"))
      .select(col("c_custkey"), col("host"), col("domain"),
        col("url_norm"), col("blocked"))
  }

  /** End-to-end curation decision (round 6): the composed keep/drop gate
    * a training-data pipeline applies per document — token budget
    * (tokenCount), Gopher quality pass, exact-dup canonicalization
    * (min-id keeper over identical texts), and the final keep flag. Each
    * constituent is an existing oracle-checked operator; this entry
    * checks their COMPOSITION end-to-end. */
  private def q96_curation(s: SparkSession, dir: String): DataFrame = {
    // canonicalization key is sha2(text), NOT the text itself: the window
    // exchange then shuffles a 32-byte digest instead of writing every
    // full document into the shuffle as key AND payload (`text` is
    // dropped before the exchange), and hot exact-dup clusters hash-
    // spread instead of landing on one task
    val scored = t(s, dir, "documents").select(
      col("doc_id"), sha2(col("text"), 256).as("text_sha"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
      TextAnalysis.gopherStats(col("text"), Seq("the", "a", "of", "and"))
        .getField("passes").as("passes"))
    val byText = org.apache.spark.sql.expressions.Window.partitionBy(col("text_sha"))
    scored
      .withColumn("canonical", col("doc_id") === min(col("doc_id")).over(byText))
      .withColumn("keep", (col("passes") === 1) && col("canonical"))
      .select(col("doc_id"), col("n_tokens"), col("passes"),
        col("canonical"), col("keep"))
  }

  /** Gopher repetition-removal signals (Rae et al. 2021 §A1.1 — a
    * training-pipeline extension, no reference counterpart): per document
    * the total and most-frequent 2-gram occurrence counts and the excess
    * (beyond-first) occurrences of repeated 3-grams, all exact integers.
    * Fully NARROW: one codegen'd `repetition_profile` pass per row (exact
    * string-keyed; bit-identical to the column formulation over
    * `TextAnalysis.rawShingles`/`topRunCount`, spec-enforced) — zero
    * shuffles, zero explodes; at 100 TB this is embarrassingly parallel
    * map work pipelined into the scan. */
  private def q99_repetition(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), call_function("repetition_profile", col("text")).as("p"))
      .select(col("doc_id"), col("p.n_2grams").as("n_2grams"),
        col("p.top_2gram_n").as("top_2gram_n"),
        col("p.dup_3gram_excess").as("dup_3gram_excess"))

  /** Fractional-epoch source mixing (the upsampling half of mixture
    * weights): src0 runs 2.3 epochs, src1 0.4, src2 is dropped, the other
    * seventeen sources run 1 — one row per (document, epoch). The oracle
    * restates the exact integer thresholds and the bounded explode with
    * generate_series. */
  private def q104_epoch_mixture(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.epochMixture(
        t(s, dir, "documents").select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 2.3, "src1" -> 0.4, "src2" -> 0.0))
      .select(col("doc_id"), col("source"), col("epoch"))

  /** Per-row-rate (quality-weighted) sampling: keep probability scales
    * with document length capped at 1 — the per-document generalization
    * of q85's bucket rates. Oracle restates the clamped IEEE threshold. */
  private def q105_rate_sample(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.rateSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", col("n_chars") / lit(800.0))
      .select(col("doc_id"), col("u"))

  /** RAG-style overlapping chunking: 64-token chunks at stride 40 over
    * every document; oracle restates the slice arithmetic with
    * generate_series and 1-based list slicing. */
  private def q106_chunking(s: SparkSession, dir: String): DataFrame =
    // maxChunks matches the oracle's generate_series(0, 255) bound — a
    // pathological >10k-token document diverges from the SQL otherwise
    TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
      chunkSize = 64, stride = 40, maxChunks = 256)

  /** Deterministic training-order shuffle
    * ([[graft.text.Sampling.deterministicShuffle]]): md5-seeded sort key,
    * shard from ascii arithmetic on the key prefix, per-shard positions —
    * no global single-task sort. Oracle restates key, shard, and
    * row_number verbatim (md5 is engine-independent). */
  private def q115_det_shuffle(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.deterministicShuffle(
      t(s, dir, "documents"), "doc_id", "epoch0", buckets = 8)

  /** fastText-style hashed-linear quality gate
    * ([[graft.text.Classifier]]): B=64 buckets, integer pseudo-weights
    * w(b) = b%7-3 so the oracle restates the full inference (bucket
    * arithmetic included) and the float sum is exact. One narrow
    * transform+aggregate pass, no shuffle. */
  private def q116_quality_classifier(s: SparkSession, dir: String): DataFrame = {
    val weights = (0 until 64).map(b => ((b % 7) - 3).toDouble)
    val score = graft.text.Classifier
      .hashedLinearScore(col("text"), weights, bias = 0.0)
    t(s, dir, "documents").select(col("doc_id"),
      score.cast("long").as("score"), (score > lit(0.0)).as("keep"))
  }

  /** Per-source document cap ([[graft.text.Sampling.capPerGroup]]) — the
    * C4/RefinedWeb anti-spam rule (no domain dominates the mix). Order:
    * longest documents first, doc_id tie-break; all rows returned with
    * (rnk, kept) so the drop is auditable. */
  private def q117_source_cap(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.capPerGroup(
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
      "source", Seq(col("n_tokens").desc, col("doc_id").asc), cap = 10)

  /** Corpus token-budget report: per-source doc count, token sum/mean and
    * p50/p95 token counts — the first table of any training-mix design
    * doc. percentile_cont semantics match Spark's `percentile` (both
    * interpolate at rank p·(n−1) in IEEE doubles, so the hash compare is
    * exact). One partial-agg shuffle on source. */
  private def q118_corpus_stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("sum_tokens"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"),
        avg(col("n")).as("mean_tokens"),
        percentile(col("n"), lit(0.5)).as("p50_tokens"),
        percentile(col("n"), lit(0.95)).as("p95_tokens"))

  /** Integer-exact tf-idf keyword extraction: score = tf · ⌊10⁶/df⌋ (all
    * integer arithmetic, so rarity weighting is oracle-exact with no
    * float log), top 3 tokens per document, (score desc, token asc)
    * deterministic order. Shape: one (doc,tok) count shuffle, one df
    * count shuffle, broadcast-joined back, per-doc window. */
  private def q119_keywords(s: SparkSession, dir: String): DataFrame = {
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // top-3 via per-group BOUNDED sort (collect per doc, array_sort on
    // (-score, tok), slice) — no global window sort over every (doc,tok)
    // pair; the group payload is capped by the document's own vocabulary.
    // Same (score desc, tok asc) order the oracle's row_number states.
    tf.join(df_, "tok")
      .withColumn("score", col("tf") * (lit(1000000L) / col("df")).cast("long"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct((-col("score")).as("neg"), col("tok"),
        col("score"))).as("c"))
      .select(col("doc_id"),
        posexplode(slice(array_sort(col("c")), 1, 3)).as(Seq("pos0", "e")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("rnk"),
        col("e.tok").as("tok"), col("e.score").as("score"))
  }

  /** Winnowing fingerprints ([[graft.text.Winnow]]) with k=4 shingles,
    * w=5 windows: the MOSS selection, min-md5 per complete window,
    * distinct per doc. The oracle restates shingling, the windowed
    * varchar min, and the complete-window cut verbatim. */
  private def q122_winnow(s: SparkSession, dir: String): DataFrame =
    graft.text.Winnow.fingerprints(
      t(s, dir, "documents"), "text", "doc_id", k = 4, w = 5)

  /** Uniform deterministic k-per-group sample: [[graft.text.Sampling
    * .capPerGroup]] ordered by an md5 priority instead of a quality
    * signal — reproducible reservoir-style sampling (eval-set carving,
    * per-source inspection samples) with an exact SQL restatement. */
  private def q123_group_sample(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.capPerGroup(
      t(s, dir, "documents").select(col("doc_id"), col("source"),
        md5(concat(col("doc_id").cast("string"), lit(":sample0"))).as("pri")),
      "source", Seq(col("pri").asc, col("doc_id").asc), cap = 5)

  /** Vocabulary builder ([[TextAnalysis.vocab]]): top-50 tokens with a
    * count floor of 2 and dense ids — distributed count + top-K, the id
    * window only ever sees the bounded K rows. */
  private def q125_vocab(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocab(t(s, dir, "documents"), "text", topK = 50, minCount = 2)

  /** MOSS match step ([[graft.text.Winnow.candidatePairs]]): doc pairs
    * sharing ≥2 winnowing fingerprints via the inverted-index self-join —
    * output proportional to true overlap, never all-pairs. */
  private def q126_winnow_pairs(s: SparkSession, dir: String): DataFrame =
    graft.text.Winnow.candidatePairs(
      graft.text.Winnow.fingerprints(
        t(s, dir, "documents"), "text", "doc_id", k = 4, w = 5),
      "doc_id", minShared = 2)

  /** Mergeable deterministic quantile estimate: per group, the k rows
    * with the SMALLEST md5 priorities form a uniform sample (k-smallest
    * of a union = merge of k-smallest sets — the mergeability that makes
    * this a 100 TB sketch), and the exact interpolated quantile of that
    * sample estimates the group quantile. Selection AND quantile restate
    * verbatim in SQL, so unlike t-digest/KLL this sketch is hash-exact
    * against the oracle. */
  private def q131_sampled_quantile(s: SparkSession, dir: String): DataFrame = {
    val sampled = graft.text.Sampling.capPerGroup(
      t(s, dir, "lineitem").select(col("l_returnflag").as("grp"),
        col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        md5(concat(col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"))).as("pri")),
      "grp", Seq(col("pri").asc, col("l_orderkey").asc,
        col("l_linenumber").asc), cap = 200)
      .where(col("kept"))
    sampled.groupBy(col("grp")).agg(
      count(lit(1)).as("n_sample"),
      percentile(col("l_quantity"), lit(0.5)).as("p50_est"),
      percentile(col("l_quantity"), lit(0.9)).as("p90_est"))
  }

  /** F23: Unicode script-mix profile — per-doc counts by writing system
    * + dominant script. Map-only codegen pass; exact oracle. */
  private def q136_script_profile(s: SparkSession, dir: String): DataFrame =
    graft.text.Scripts.profile(t(s, dir, "documents"), "text", "doc_id")

  /** L33: BPE token budgeting — learn 200 merges from the corpus word
    * distribution, encode every document, count model-unit tokens.
    * Deterministic (tie rules stated in [[graft.text.Bpe]]) but not
    * SQL-expressible — no oracle entry; BpeSpec pins the algorithm to
    * the textbook example. */
  private def q138_bpe_tokens(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val merges = graft.text.Bpe.learn(docs, "text", numMerges = 200)
    graft.text.Bpe.tokenCounts(docs, "doc_id", "text", merges)
      .select(col("id").as("doc_id"), col("n_bpe_tokens"))
  }

  /** L36: compression-ratio quality signal (DEFLATE ppm per document) —
    * rows-only: zlib has no SQL restatement; CompressionSpec pins the
    * monotonicity contract (repetition < prose < noise). */
  private def q145_compression(s: SparkSession, dir: String): DataFrame =
    graft.text.Compression.profile(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("n_bytes"), col("n_deflated"),
        col("ratio_ppm"))

  /** F24: Unicode NFC dedup keys — canonical composition before
    * hashing, so composed/decomposed spellings of the same string land
    * in the same dedup bucket. Native `unicode_nfc` expression; NFC is
    * standard-defined, so DuckDB's nfc_normalize restates it exactly. */
  private def q150_nfc_keys(s: SparkSession, dir: String): DataFrame =
    graft.text.Normalize.nfcCol(t(s, dir, "documents"), "text", "text_nfc")
      .select(col("doc_id"),
        length(col("text_nfc")).cast("long").as("n_chars_nfc"),
        sha2(col("text_nfc"), 256).as("nfc_key"))

  /** q158: inverted-index BM25 top-k — the indexed retrieval sibling of
    * q88 (same scoring formula, term-pruned postings instead of a corpus
    * re-tokenize; rank-safe WAND-style candidate cut verified by spec to
    * change nothing). */
  private def q158_bm25_topk(s: SparkSession, dir: String): DataFrame = {
    val ix = graft.text.InvertedIndex.build(t(s, dir, "documents"), "doc_id", "text")
    graft.text.InvertedIndex.topK(ix, Seq("spark", "table", "query"), 20)
      .select(col("id").as("doc_id"), col("score"), col("rank").cast("long").as("rank"))
  }

  /** q165: Efraimidis–Spirakis weighted sample — top-100 documents by
    * the deterministic ln(u)/w priority, inclusion ∝ n_chars. */
  private def q165_weighted_sample(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.weightedSample(t(s, dir, "documents"), "doc_id",
      col("n_chars").cast("double"), k = 100)
      .select(col("doc_id"), col("u"), col("priority"))

  /** q174: DSIR importance weights ([[graft.text.Dsir]]) — hashed-unigram
    * log-likelihood-ratio scores against the English slice as target,
    * fixed-point micro-nats so the per-doc sum is exact integers. */
  private def q174_dsir(s: SparkSession, dir: String): DataFrame =
    graft.text.Dsir.importanceWeights(
      t(s, dir, "documents"), "text", "doc_id",
      col("lang") === "en", buckets = 1024)

  /** q179: classifier calibration report — decile buckets of a
    * ppm-mapped score vs the observed positive rate, with per-bucket
    * Brier in ppm. The score is q116's hashed-linear classifier (exact
    * integers), the label an exact length gate, so every column is an
    * integer the oracle restates verbatim. */
  private def q179_calibration(s: SparkSession, dir: String): DataFrame = {
    val weights = (0 until 64).map(b => ((b % 7) - 3).toDouble)
    val score = graft.text.Classifier
      .hashedLinearScore(col("text"), weights, bias = 0.0)
    t(s, dir, "documents")
      .select(col("doc_id"), score.cast("long").as("sc"),
        (col("n_chars") >= 300).cast("long").as("y"))
      .withColumn("p_ppm",
        least(lit(1000000L), greatest(lit(0L), lit(500000L) + col("sc") * 10000)))
      .withColumn("bucket", least(lit(9L), expr("p_ppm div 100000")))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("n_pos"),
        expr("(1000000 * sum(y)) div count(1)").as("obs_ppm"),
        expr("sum(p_ppm) div count(1)").as("avg_p_ppm"),
        expr("sum((p_ppm - y * 1000000) * (p_ppm - y * 1000000)) div (count(1) * 1000000)")
          .as("brier_ppm"))
  }

  /** q180: known-item retrieval evaluation — each probe document's
    * 3-token prefix queries the q158 inverted index in ONE batch plan
    * ([[graft.text.InvertedIndex.topKBatch]]); the metric row per query
    * is the source document's rank in the top-10, reciprocal rank in
    * exact integer ppm, and hit@10. */
  private def q180_mrr(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val ix = graft.text.InvertedIndex.build(docs, "doc_id", "text")
    val queries = docs.where(col("doc_id") < 20)
      .select(col("doc_id").cast("long").as("qid"),
        array_distinct(slice(graft.text.TextAnalysis.tokens(col("text")), 1, 3))
          .as("terms"))
    val top = graft.text.InvertedIndex.topKBatch(ix, queries, "qid", "terms", k = 10)
    queries.select(col("qid"))
      .join(top.where(col("id") === col("qid"))
        .select(col("qid"), col("rank")), Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("rank"), lit(0)).cast("long").as("rank_in_top10"),
        coalesce(expr("1000000 div rank"), lit(0L)).as("rr_ppm"),
        col("rank").isNotNull.cast("int").as("hit10"))
  }

  /** q181: temperature-scaled source mixing (α = 0.3, the XLM-R
    * flattening) — per-source corpus share, tempered target share and
    * the q/p sampling-rate multiplier, in ppm. */
  private def q181_temperature_mix(s: SparkSession, dir: String): DataFrame =
    graft.text.Sampling.temperatureWeights(
      t(s, dir, "documents"), "source", alpha = 0.3)

  /** q188: chi-square feature selection
    * ([[graft.text.FeatureSelect.chiSquare]]) — terms that most
    * distinguish source `src0` from the rest, exact centi-units. */
  private def q188_chi2(s: SparkSession, dir: String): DataFrame =
    graft.text.FeatureSelect.chiSquare(
      t(s, dir, "documents"), "doc_id", "text", col("source") === "src0")

  /** q189: modified n-gram precision ([[graft.text.Overlap]]) — each
    * even document scored as a candidate against the next document as
    * reference, unigram and bigram clipped precision in exact ppm. */
  private def q189_ngram_overlap(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val pairs = docs.select(col("doc_id").as("pair_id"), col("text").as("cand"))
      .where(col("pair_id") % 2 === 0)
      .join(docs.select((col("doc_id") - 1).as("pair_id"),
        col("text").as("ref")), Seq("pair_id"))
    val p1 = graft.text.Overlap.modifiedPrecision(pairs, "pair_id", "cand", "ref", 1)
      .withColumnsRenamed(Map("hit" -> "hit1", "tot" -> "tot1", "p_ppm" -> "p1_ppm"))
    val p2 = graft.text.Overlap.modifiedPrecision(pairs, "pair_id", "cand", "ref", 2)
      .withColumnsRenamed(Map("hit" -> "hit2", "tot" -> "tot2", "p_ppm" -> "p2_ppm"))
    p1.join(p2, Seq("pair_id"))
  }

  /** q190: reciprocal-rank fusion ([[graft.text.Rrf]]) — a lexical
    * ranking (term frequency of "spark") fused with a length prior,
    * each depth-100, the hybrid-retrieval combination shape. */
  private def q190_rrf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val lex = docs
      .select(col("doc_id"),
        size(filter(split(col("text"), " "), _ === "spark")).as("tf"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("tf").desc, col("doc_id"))))
      .where(col("rank") <= 100)
    val len = docs
      .select(col("doc_id"), col("n_chars"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id"))))
      .where(col("rank") <= 100)
    graft.text.Rrf.fuse(Seq(lex.select("doc_id", "rank"),
      len.select("doc_id", "rank")), "doc_id", "rank", c = 60, k = 50)
  }

  /** Gate query for the round-13 NaN-rate fix: every fifth doc's rate is
    * NaN (the 0/0-quality-ratio class; stated as a literal because ANSI
    * mode raises on an actual double 0/0) — pre-fix Spark's NaN-largest
    * ordering made `least(greatest(NaN, 0), 1)` evaluate to 1.0 and
    * those rows were ALWAYS kept; the contract is NaN = drop, and the
    * oracle states it with an explicit isnan guard (cross-engine:
    * DuckDB's NaN ordering differs from Spark's, so only the guarded
    * form agrees). */
  private def q206_nan_rate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("n_chars"))
    val rate = when(col("doc_id") % 5 === 0, lit(Double.NaN))
      .otherwise(col("n_chars") / lit(800.0))
    graft.text.Sampling.rateSample(docs, "doc_id", rate)
      .select(col("doc_id"), col("u"))
  }

  private[graft] val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q17_token_count" -> (q17_token_count _),
    "q18_fingerprint" -> (q18_fingerprint _),
    "q48_quality" -> (q48_quality _),
    "q70_langid" -> (q70_langid _),
    "q71_gopher_quality" -> (q71_gopher_quality _),
    "q77_lm_score" -> (q77_lm_score _),
    "q78_repetition" -> (q78_repetition _),
    "q80_packing" -> (q80_packing _),
    "q85_stratified_sample" -> (q85_stratified_sample _),
    "q86_top_bigrams" -> (q86_top_bigrams _),
    "q88_bm25" -> (q88_bm25 _),
    "q94_pii_redact" -> (q94_pii_redact _),
    "q95_url_classify" -> (q95_url_classify _),
    "q96_curation" -> (q96_curation _),
    "q99_repetition" -> (q99_repetition _),
    "q104_epoch_mixture" -> (q104_epoch_mixture _),
    "q105_rate_sample" -> (q105_rate_sample _),
    "q106_chunking" -> (q106_chunking _),
    "q115_det_shuffle" -> (q115_det_shuffle _),
    "q116_quality_classifier" -> (q116_quality_classifier _),
    "q117_source_cap" -> (q117_source_cap _),
    "q118_corpus_stats" -> (q118_corpus_stats _),
    "q119_keywords" -> (q119_keywords _),
    "q122_winnow" -> (q122_winnow _),
    "q123_group_sample" -> (q123_group_sample _),
    "q125_vocab" -> (q125_vocab _),
    "q126_winnow_pairs" -> (q126_winnow_pairs _),
    "q131_sampled_quantile" -> (q131_sampled_quantile _),
    "q136_script_profile" -> (q136_script_profile _),
    "q138_bpe_tokens" -> (q138_bpe_tokens _),
    "q145_compression" -> (q145_compression _),
    "q150_nfc_keys" -> (q150_nfc_keys _),
    "q158_bm25_topk" -> (q158_bm25_topk _),
    "q165_weighted_sample" -> (q165_weighted_sample _),
    "q174_dsir" -> (q174_dsir _),
    "q179_calibration" -> (q179_calibration _),
    "q180_mrr" -> (q180_mrr _),
    "q181_temperature_mix" -> (q181_temperature_mix _),
    "q188_chi2" -> (q188_chi2 _),
    "q189_ngram_overlap" -> (q189_ngram_overlap _),
    "q190_rrf" -> (q190_rrf _),
    "q206_nan_rate" -> (q206_nan_rate _))

  private[graft] val oracleSql: ListMap[String, String] = ListMap(
    "q17_token_count" ->
      """SELECT doc_id,
        |  len(list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0)) AS n_tokens
        |FROM documents""".stripMargin,
    "q18_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents""".stripMargin,
    "q48_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |)
        |SELECT doc_id,
        |  len(ts) AS n_tokens,
        |  len(list_distinct(list_transform(ts, x -> lower(x)))) AS n_distinct_tokens,
        |  len(list_filter(list_transform(ts, x -> lower(x)),
        |    x -> x IN ('the', 'a', 'of', 'and'))) AS n_stopwords,
        |  coalesce(list_max(list_transform(ts, x -> len(x))), 0) AS max_token_len,
        |  CAST(list_sum(list_transform(ts, w -> CAST(ceil(len(w) / 4.0) AS BIGINT))) AS BIGINT)
        |    + len(regexp_extract_all(text, '[[:punct:]]')) AS n_pieces
        |FROM toks""".stripMargin,
    // the model (compiled-in ranked trigram profiles) is fixtured from the
    // same kernel; the SCORING — normalization, trigram windows, per-lang
    // weight sums, tie-to-lowest-rank argmax, 'und' fallback — is restated
    // here end-to-end. The fixture path interpolates this run's sf0.01
    // dir as the static default (fixture dirs are per-run + per-dataset;
    // Verify rewrites the emitted SQL to the actual (runId, sfDir) path). The regex strips astral code points
    // explicitly because Java classes their surrogate halves as
    // non-letters; the corpus itself is ASCII, making lower() exact.
    "q70_langid" ->
      s"""WITH profile AS (
        |  SELECT tri, lang, lang_rank, weight
        |  FROM read_parquet('${EntryKit.fixtureDir("/root/testdata/sf0.01")}/q70_trigram_profile.parquet/*.parquet')
        |), norm AS (
        |  SELECT doc_id,
        |    ' ' || trim(regexp_replace(lower(text), '([^\\p{L}]|[\\x{10000}-\\x{10FFFF}])+', ' ', 'g')) || ' ' AS s
        |  FROM documents
        |), idx AS (
        |  SELECT doc_id, s, unnest(range(1, greatest(len(s) - 1, 1))) AS i
        |  FROM norm
        |), tris AS (
        |  SELECT doc_id, substr(s, CAST(i AS INT), 3) AS tri FROM idx
        |), scores AS (
        |  SELECT doc_id, lang, lang_rank, sum(weight) AS score
        |  FROM tris JOIN profile USING (tri)
        |  GROUP BY 1, 2, 3
        |), best AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang_rank) AS rn
        |  FROM scores
        |), lang_per_doc AS (
        |  SELECT d.doc_id, coalesce(b.lang, 'und') AS lang
        |  FROM documents d LEFT JOIN (SELECT doc_id, lang FROM best WHERE rn = 1) b
        |    ON d.doc_id = b.doc_id
        |)
        |SELECT lang, count(*) AS n_docs FROM lang_per_doc GROUP BY lang""".stripMargin,
    "q71_gopher_quality" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS words,
        |    string_split(text, chr(10)) AS lines,
        |    list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(words, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS n_symbol_words,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), '•')
        |      OR starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(len(list_filter(list_transform(ts, x -> lower(x)),
        |      x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop_hits
        |  FROM w
        |)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_symbol_words,
        |  n_lines, n_bullet_lines, n_ellipsis_lines, n_stop_hits,
        |  CASE WHEN n_words >= 50 AND n_words <= 100000
        |    AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
        |    AND n_symbol_words * 10 <= n_words
        |    AND n_bullet_lines * 10 <= n_lines * 9
        |    AND n_ellipsis_lines * 10 <= n_lines * 3
        |    AND n_alpha_words * 5 >= n_words * 4
        |    AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS passes
        |FROM c""".stripMargin,
    "q77_lm_score" ->
      """WITH src AS (
        |  SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS s
        |  FROM documents
        |), t AS (
        |  SELECT doc_id, unnest(list_filter(
        |    list_transform(generate_series(1, greatest(len(s) - 2, 1)),
        |      i -> substr(s, i, 3)),
        |    x -> len(x) = 3)) AS tri
        |  FROM src
        |), m AS (SELECT tri, count(*) AS cnt FROM t GROUP BY tri)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(count(DISTINCT t.tri) AS BIGINT) AS n_distinct_tri,
        |  CAST(sum(CASE WHEN m.cnt <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
        |FROM t JOIN m USING (tri) GROUP BY t.doc_id""".stripMargin,
    "q78_repetition" ->
      """WITH l AS (
        |  SELECT doc_id, trim(unnest(str_split(text, chr(10)))) AS line
        |  FROM documents
        |), lc AS (
        |  SELECT doc_id, line, count(*) AS c FROM l WHERE len(line) > 0
        |  GROUP BY doc_id, line
        |), ls AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_lines,
        |    CAST(sum(CASE WHEN c > 1 THEN c * len(line) ELSE 0 END) AS BIGINT)
        |      AS n_chars_dup_lines
        |  FROM lc GROUP BY doc_id
        |), w AS (
        |  SELECT doc_id, list_filter(
        |    regexp_split_to_array(lower(text), '[\s[:punct:]]+'),
        |    x -> len(x) > 0) AS ws
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS bigram
        |  FROM w WHERE len(ws) >= 2
        |), bc AS (
        |  SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY doc_id, bigram
        |), bs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(max(c) AS BIGINT) AS top_bigram_n
        |  FROM bc GROUP BY doc_id
        |)
        |SELECT doc_id,
        |  coalesce(n_lines, 0) AS n_lines,
        |  coalesce(n_dup_lines, 0) AS n_dup_lines,
        |  coalesce(n_chars_dup_lines, 0) AS n_chars_dup_lines,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(top_bigram_n, 0) AS top_bigram_n
        |FROM ls FULL JOIN bs USING (doc_id)""".stripMargin,
    "q80_packing" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(list_filter(
        |    regexp_split_to_array(text, '[\s[:punct:]]+'),
        |    x -> len(x) > 0)) AS BIGINT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tok_end
        |  FROM d WHERE n_tok > 0
        |)
        |SELECT doc_id,
        |  CAST(tok_end - n_tok AS BIGINT) AS tok_start,
        |  tok_end,
        |  CAST((tok_end - n_tok) // 512 AS BIGINT) AS first_chunk,
        |  CAST((tok_end - 1) // 512 AS BIGINT) AS last_chunk,
        |  CAST((tok_end - 1) // 512 - (tok_end - n_tok) // 512 + 1 AS BIGINT) AS n_chunks
        |FROM c""".stripMargin,
    "q85_stratified_sample" ->
      // the Knuth draw is plain integer arithmetic, identical across
      // engines — both the kept set and the uniforms compare exactly
      """WITH d AS (
        |  SELECT doc_id, len(list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0)) AS n_tok
        |  FROM documents
        |), b AS (
        |  SELECT doc_id,
        |    CASE WHEN n_tok < 40 THEN 'short' WHEN n_tok < 70 THEN 'medium' ELSE 'long' END AS bucket,
        |    (doc_id * 2654435761) % 4294967296 AS u
        |  FROM d
        |)
        |SELECT doc_id, bucket, CAST(u AS BIGINT) AS u FROM b
        |WHERE u < CASE bucket WHEN 'short' THEN 1073741824
        |  WHEN 'medium' THEN 2147483648 ELSE 4294967296 END""".stripMargin,
    "q86_top_bigrams" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), bg AS (
        |  SELECT ts[i] || ' ' || ts[i+1] AS bigram
        |  FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks WHERE len(ts) >= 2)
        |)
        |SELECT bigram, CAST(count(*) AS BIGINT) AS n FROM bg
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin,
    "q88_bm25" ->
      // expression shapes mirror the engine exactly (same literals, same
      // association) so the double math agrees to the last ulp; round(6)
      // absorbs any residual libm difference
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, len(ts) AS dl, ts FROM toks WHERE len(ts) > 0
        |), stats AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl FROM d
        |), tf AS (
        |  SELECT doc_id, dl, tok, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ts) AS tok FROM d)
        |  WHERE tok IN ('spark', 'table', 'query')
        |  GROUP BY doc_id, dl, tok
        |), dfreq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        |)
        |SELECT tf.doc_id,
        |  round(sum(
        |    ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |    (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        |FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
        |GROUP BY tf.doc_id""".stripMargin,
    // q94: the same derived text, the same three regexes (Java-regex /
    // RE2 common subset), the same replacement order; counts are over the
    // ORIGINAL text.
    "q94_pii_redact" ->
      """WITH src AS (
        |  SELECT c_custkey,
        |    c_name || ' <u' || c_custkey || '@mail' || (c_custkey % 7)
        |      || '.org> tel +1-555-00' || c_custkey
        |      || ' at 10.0.' || c_nationkey || '.' || (c_custkey % 256) AS text
        |  FROM customer
        |)
        |SELECT c_custkey,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
        |    '\+\d(?:[ -]?\d){6,13}', '[PHONE]', 'g') AS redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(text,
        |    '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS n_ips,
        |  len(regexp_extract_all(text,
        |    '\+\d(?:[ -]?\d){6,13}')) AS n_phones
        |FROM src""".stripMargin,
    // q95: identical derivation, identical regex formulations (incl. the
    // lower-prefix-only normalization stated the same way).
    "q95_url_classify" ->
      """WITH src AS (
        |  SELECT c_custkey,
        |    'https://WWW.Site' || (c_custkey % 50) || '.com/item/' || c_custkey
        |      || CASE WHEN c_custkey % 3 = 0 THEN '/#sec' ELSE '?ref=mail' END AS url
        |  FROM customer
        |), f AS (
        |  SELECT c_custkey, url, regexp_replace(url, '#.*$', '') AS nofrag
        |  FROM src
        |)
        |SELECT c_custkey,
        |  lower(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)) AS host,
        |  regexp_extract(lower(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
        |    '([^.]+\.[^.]+)$', 1) AS domain,
        |  regexp_replace(
        |    lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
        |      || regexp_replace(nofrag, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''),
        |    '^([^?]*)/$', '\1') AS url_norm,
        |  regexp_extract(lower(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)),
        |    '([^.]+\.[^.]+)$', 1) IN ('site7.com', 'site13.com') AS blocked
        |FROM f""".stripMargin,
    // q96: q71's Gopher CTE + q17's token count + q16's min-id dedup,
    // composed into the keep/drop decision.
    "q96_curation" ->
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS words,
        |    string_split(text, chr(10)) AS lines,
        |    list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), c AS (
        |  SELECT doc_id,
        |    CAST(len(ts) AS BIGINT) AS n_tokens,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(words, x -> len(x))), 0) AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words,
        |    CAST(len(list_filter(words, x -> contains(x, '#') OR contains(x, '...'))) AS BIGINT) AS n_symbol_words,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> starts_with(ltrim(l), chr(8226))
        |      OR starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* '))) AS BIGINT) AS n_bullet_lines,
        |    CAST(len(list_filter(lines, l -> ends_with(l, '...'))) AS BIGINT) AS n_ellipsis_lines,
        |    CAST(len(list_filter(list_transform(ts, x -> lower(x)),
        |      x -> x IN ('the', 'a', 'of', 'and'))) AS BIGINT) AS n_stop_hits
        |  FROM w
        |), p AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_words >= 50 AND n_words <= 100000
        |      AND sum_word_len >= n_words * 3 AND sum_word_len <= n_words * 10
        |      AND n_symbol_words * 10 <= n_words
        |      AND n_bullet_lines * 10 <= n_lines * 9
        |      AND n_ellipsis_lines * 10 <= n_lines * 3
        |      AND n_alpha_words * 5 >= n_words * 4
        |      AND n_stop_hits >= 2 THEN 1 ELSE 0 END AS passes
        |  FROM c
        |), canon AS (
        |  SELECT doc_id, doc_id = min(doc_id) OVER (PARTITION BY text) AS canonical
        |  FROM documents
        |)
        |SELECT p.doc_id, p.n_tokens, p.passes, canon.canonical,
        |  (p.passes = 1 AND canon.canonical) AS keep
        |FROM p JOIN canon USING (doc_id)""".stripMargin,
    "q99_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), g2 AS (
        |  SELECT doc_id, ts[i] || ' ' || ts[i+1] AS g
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 1)) AS i
        |        FROM toks WHERE len(ts) >= 2)
        |), g3 AS (
        |  SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS g
        |  FROM (SELECT doc_id, ts, unnest(generate_series(1, len(ts) - 2)) AS i
        |        FROM toks WHERE len(ts) >= 3)
        |), c2 AS (
        |  SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
        |), a2 AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
        |    CAST(max(c) AS BIGINT) AS top_2gram_n FROM c2 GROUP BY 1
        |), a3 AS (
        |  SELECT doc_id, CAST(count(*) - count(DISTINCT g) AS BIGINT) AS dup_3gram_excess
        |  FROM g3 GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(a2.n_2grams, 0) AS BIGINT) AS n_2grams,
        |  CAST(COALESCE(a2.top_2gram_n, 0) AS BIGINT) AS top_2gram_n,
        |  CAST(COALESCE(a3.dup_3gram_excess, 0) AS BIGINT) AS dup_3gram_excess
        |FROM documents d LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)""".stripMargin,
    // q104: thresholds are the engine's driver-computed exact integers
    // ((rate - floor(rate)) * 2^32 under IEEE doubles): 2.3 -> 1288490188,
    // 0.4 -> 1717986918; the epoch draw is (id * 2246822519) mod 2^32
    "q104_epoch_mixture" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 0
        |      ELSE 1 END
        |    + CASE WHEN source = 'src0'
        |             AND (doc_id * 2246822519) % 4294967296 < 1288490188 THEN 1
        |           WHEN source = 'src1'
        |             AND (doc_id * 2246822519) % 4294967296 < 1717986918 THEN 1
        |           ELSE 0 END AS n
        |  FROM documents
        |)
        |SELECT doc_id, source, g.i AS epoch
        |FROM r JOIN generate_series(1, 3) g(i) ON g.i <= r.n""".stripMargin,
    // q105: same Knuth draw as q85; the per-row threshold is the engine's
    // exact column arithmetic (clamp, IEEE multiply, floor — DuckDB's
    // bare BIGINT cast rounds, so FLOOR comes first there too)
    "q105_rate_sample" ->
      """SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS u
        |FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 <
        |  CAST(FLOOR(LEAST(GREATEST(n_chars / 800.0, 0.0), 1.0) * 4294967296)
        |    AS BIGINT)""".stripMargin,
    // NaN rates drop the row (isnan guard); every fifth doc carries a
    // NaN rate, the rest q105's length-derived rate
    "q206_nan_rate" ->
      """WITH r AS (
        |  SELECT doc_id, (doc_id * 2654435761) % 4294967296 AS u,
        |    CASE WHEN doc_id % 5 = 0 THEN CAST('nan' AS DOUBLE)
        |         ELSE n_chars / 800.0 END AS rate
        |  FROM documents
        |)
        |SELECT doc_id, u FROM r
        |WHERE u < CAST(FLOOR(LEAST(GREATEST(
        |    CASE WHEN isnan(rate) THEN 0.0 ELSE rate END, 0.0), 1.0)
        |  * 4294967296) AS BIGINT)""".stripMargin,
    // q106: same tokenizer as q17/q19's oracles; DuckDB list slicing is
    // 1-based inclusive, so chunk i covers ts[i*40+1 : i*40+64]
    "q106_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |)
        |SELECT doc_id, g.i AS chunk_idx,
        |  array_to_string(ts[g.i*40 + 1 : g.i*40 + 64], ' ') AS chunk_text,
        |  CAST(LEAST(64, len(ts) - g.i*40) AS BIGINT) AS n_tokens
        |FROM toks JOIN generate_series(0, 255) g(i)
        |  ON len(ts) > 0 AND g.i <= (len(ts) - 1) // 40""".stripMargin,
    // q115: md5 sort key + ascii-arithmetic shard + per-shard row_number,
    // restated verbatim — both engines emit lowercase-hex md5 over UTF-8
    "q115_det_shuffle" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS skey
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, skey,
        |    CAST((((ascii(substr(skey, 1, 1)) * 131 + ascii(substr(skey, 2, 1)))
        |        * 131 + ascii(substr(skey, 3, 1))) * 131 + ascii(substr(skey, 4, 1)))
        |      % 8 AS BIGINT) AS bucket
        |  FROM s
        |)
        |SELECT doc_id, skey, bucket,
        |  CAST(row_number() OVER (PARTITION BY bucket ORDER BY skey) AS BIGINT)
        |    AS pos
        |FROM b""".stripMargin,
    // q116: the ENTIRE inference restated — tokenize, md5-prefix bucket,
    // w(b)=b%7-3, sum — integer weights keep the float sum exact
    "q116_quality_classifier" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'),
        |        x -> len(x) > 0),
        |      t -> (((ascii(substr(md5(t), 1, 1)) * 131
        |            + ascii(substr(md5(t), 2, 1))) * 131
        |            + ascii(substr(md5(t), 3, 1))) * 131
        |            + ascii(substr(md5(t), 4, 1))) % 64) AS bs
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    coalesce(list_sum(list_transform(bs, b -> (b % 7) - 3)), 0) AS s
        |  FROM tok
        |)
        |SELECT doc_id, CAST(s AS BIGINT) AS score, s > 0 AS keep
        |FROM sc""".stripMargin,
    // q117: per-source cap, longest-first with doc_id tie-break
    "q117_source_cap" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents
        |)
        |SELECT doc_id, source, n_tokens,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY n_tokens DESC, doc_id ASC) AS BIGINT) AS rnk,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_tokens DESC, doc_id ASC) <= 10 AS kept
        |FROM t""".stripMargin,
    // q118: quantile_cont == Spark percentile (rank p·(n−1), linear
    // interpolation, IEEE doubles)
    "q118_corpus_stats" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'),
        |      x -> len(x) > 0)) AS BIGINT) AS n
        |  FROM documents
        |)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS sum_tokens,
        |  min(n) AS min_tokens, max(n) AS max_tokens,
        |  avg(n) AS mean_tokens,
        |  quantile_cont(n, 0.5) AS p50_tokens,
        |  quantile_cont(n, 0.95) AS p95_tokens
        |FROM t GROUP BY source""".stripMargin,
    // q119: integer tf·⌊1e6/df⌋ scoring — rarity weighting with zero
    // float involvement
    "q119_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(text, '[\s[:punct:]]+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |  FROM tok GROUP BY doc_id, tok
        |), dfreq AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf * (1000000 // dfreq.df) AS score
        |  FROM tf JOIN dfreq USING (tok)
        |)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, tok ASC) AS BIGINT) AS rnk,
        |  tok, CAST(score AS BIGINT) AS score
        |FROM scored
        |QUALIFY rnk <= 3""".stripMargin,
    // q122: winnowing restated — k=4 shingles, lexicographic min-md5 over
    // w=5 complete windows, distinct per doc
    "q122_winnow" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'),
        |      x -> len(x) > 0) AS ts
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, ts,
        |    unnest(generate_series(1, len(ts) - 3)) AS pos
        |  FROM t WHERE len(ts) >= 4
        |), h AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(ts[pos:pos+3], ' ')) AS h,
        |    count(*) OVER (PARTITION BY doc_id) AS n_h
        |  FROM p
        |), w AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
        |    pos, n_h
        |  FROM h
        |)
        |SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n_h - 4""".stripMargin,
    // q123: md5 priority = engine-independent uniform draw
    "q123_group_sample" ->
      """WITH p AS (
        |  SELECT doc_id, source,
        |    md5(CAST(doc_id AS VARCHAR) || ':sample0') AS pri
        |  FROM documents
        |)
        |SELECT doc_id, source, pri,
        |  CAST(row_number() OVER (PARTITION BY source
        |    ORDER BY pri ASC, doc_id ASC) AS BIGINT) AS rnk,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY pri ASC, doc_id ASC) <= 5 AS kept
        |FROM p""".stripMargin,
    // q125: count floor, top-K, dense ids in (cnt desc, tok) order
    "q125_vocab" ->
      """WITH tok AS (
        |  SELECT unnest(list_filter(
        |    regexp_split_to_array(text, '[\s[:punct:]]+'),
        |    x -> len(x) > 0)) AS tok
        |  FROM documents
        |), c AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM tok GROUP BY tok HAVING count(*) >= 2
        |), k AS (
        |  SELECT tok, cnt FROM c ORDER BY cnt DESC, tok ASC LIMIT 50
        |)
        |SELECT tok, cnt,
        |  CAST(row_number() OVER (ORDER BY cnt DESC, tok ASC) AS BIGINT)
        |    AS token_id
        |FROM k""".stripMargin,
    // q126: q122's fingerprints self-joined on fp, >=2 shared
    "q126_winnow_pairs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'),
        |      x -> len(x) > 0) AS ts
        |  FROM documents
        |), p AS (
        |  SELECT doc_id, ts,
        |    unnest(generate_series(1, len(ts) - 3)) AS pos
        |  FROM t WHERE len(ts) >= 4
        |), h AS (
        |  SELECT doc_id, pos,
        |    md5(array_to_string(ts[pos:pos+3], ' ')) AS h,
        |    count(*) OVER (PARTITION BY doc_id) AS n_h
        |  FROM p
        |), w AS (
        |  SELECT doc_id,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS fp,
        |    pos, n_h
        |  FROM h
        |), f AS (
        |  SELECT DISTINCT doc_id, fp FROM w WHERE pos <= n_h - 4
        |)
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |HAVING count(*) >= 2""".stripMargin,
    // q131: deterministic k-smallest-priority sample, exact quantile of it
    "q131_sampled_quantile" ->
      """WITH p AS (
        |  SELECT l_returnflag AS grp, l_orderkey, l_linenumber, l_quantity,
        |    md5(CAST(l_orderkey AS VARCHAR) || ':' ||
        |        CAST(l_linenumber AS VARCHAR)) AS pri
        |  FROM lineitem
        |), k AS (
        |  SELECT * FROM (
        |    SELECT grp, l_quantity,
        |      row_number() OVER (PARTITION BY grp
        |        ORDER BY pri ASC, l_orderkey ASC, l_linenumber ASC) AS rnk
        |    FROM p)
        |  WHERE rnk <= 200
        |)
        |SELECT grp, CAST(count(*) AS BIGINT) AS n_sample,
        |  quantile_cont(l_quantity, 0.5) AS p50_est,
        |  quantile_cont(l_quantity, 0.9) AS p90_est
        |FROM k GROUP BY grp""".stripMargin,
    // q136: RE2 \p{Script} classes == Java \p{IsScript}; whitespace is
    // the explicit class (Java \s and RE2 \s disagree on \x0B); dominant
    // via the same (-count, name) struct-sort in both engines
    "q136_script_profile" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(text, '\p{Greek}')) AS BIGINT) AS n_greek,
        |    CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT) AS n_han,
        |    CAST(len(regexp_extract_all(text, '\p{Arabic}')) AS BIGINT) AS n_arabic,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(regexp_extract_all(text, '[ \t\n\r\f]')) AS BIGINT) AS n_space,
        |    CAST(length(text) AS BIGINT) AS n_chars
        |  FROM documents
        |)
        |SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
        |  n_digit, n_space, n_chars,
        |  n_chars - n_latin - n_cyrillic - n_greek - n_han - n_arabic
        |    - n_digit - n_space AS n_other,
        |  CASE WHEN n_latin = 0 AND n_cyrillic = 0 AND n_greek = 0
        |    AND n_han = 0 AND n_arabic = 0 THEN 'none'
        |  ELSE list_sort([
        |    {'neg': -n_latin, 's': 'latin'},
        |    {'neg': -n_cyrillic, 's': 'cyrillic'},
        |    {'neg': -n_greek, 's': 'greek'},
        |    {'neg': -n_han, 's': 'han'},
        |    {'neg': -n_arabic, 's': 'arabic'}])[1].s END AS dominant
        |FROM c""".stripMargin,
    // q150: NFC is Unicode-standard-defined — both engines agree by
    // construction; the sha256 key proves byte-level equality
    "q150_nfc_keys" ->
      """SELECT doc_id,
        |  CAST(length(nfc_normalize(text)) AS BIGINT) AS n_chars_nfc,
        |  sha256(nfc_normalize(text)) AS nfc_key
        |FROM documents""".stripMargin,
    // q158: q88's BM25 restatement + rounded-score top-20 with the
    // (score DESC, doc_id) tie rule and a BIGINT rank
    "q158_bm25_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, len(ts) AS dl, ts FROM toks WHERE len(ts) > 0
        |), stats AS (
        |  SELECT count(*) AS n, avg(dl) AS avgdl FROM d
        |), tf AS (
        |  SELECT doc_id, dl, tok, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ts) AS tok FROM d)
        |  WHERE tok IN ('spark', 'table', 'query')
        |  GROUP BY doc_id, dl, tok
        |), dfreq AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok
        |), scores AS (
        |  SELECT tf.doc_id,
        |    round(sum(
        |      ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM tf JOIN dfreq USING (tok) CROSS JOIN stats
        |  GROUP BY tf.doc_id
        |)
        |SELECT doc_id, score,
        |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rank
        |FROM scores ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // q165: A-ES priorities restated — same Knuth draw, same ln shape,
    // same round(6) and tie rule
    "q165_weighted_sample" ->
      """WITH b AS (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS w,
        |    (doc_id * 2654435761) % 4294967296 AS u
        |  FROM documents WHERE n_chars > 0
        |)
        |SELECT doc_id, u,
        |  round(ln((u + 1) / 4294967296.0) / w, 6) AS priority
        |FROM b ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin,
    // q174: hashed-unigram importance weights; the float enters exactly
    // one rounded micro-nat scalar per bucket, doc scores are exact
    // integer sums
    "q174_dsir" ->
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '[\s[:punct:]]+'), x -> len(x) > 0)) AS tok
        |  FROM documents
        |), tb AS (
        |  SELECT doc_id, (lang = 'en') AS is_tgt,
        |    ('0x' || substr(md5(tok), 1, 8))::BIGINT % 1024 AS b
        |  FROM toks
        |), pb AS (
        |  SELECT b, count(*) AS raw_n,
        |    sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS tgt_n
        |  FROM tb GROUP BY b
        |), tot AS (
        |  SELECT sum(raw_n) AS raw_tot, sum(tgt_n) AS tgt_tot FROM pb
        |), w AS (
        |  SELECT b, CAST(round((ln((tgt_n + 1)::DOUBLE / (tgt_tot + 1024))
        |    - ln((raw_n + 1)::DOUBLE / (raw_tot + 1024))) * 1000000) AS BIGINT) AS w_fp
        |  FROM pb, tot
        |), sc AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
        |    CAST(sum(w_fp) AS BIGINT) AS score_fp
        |  FROM tb JOIN w USING (b) GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(sc.n_tok, 0) AS n_tok,
        |  coalesce(sc.score_fp, 0) AS score_fp
        |FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id""".stripMargin,
    // q179: q116's hashed-linear score mapped to ppm, decile calibration
    // + per-bucket Brier — all exact integer arithmetic
    "q179_calibration" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_transform(
        |      list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'),
        |        x -> len(x) > 0),
        |      t -> (((ascii(substr(md5(t), 1, 1)) * 131
        |            + ascii(substr(md5(t), 2, 1))) * 131
        |            + ascii(substr(md5(t), 3, 1))) * 131
        |            + ascii(substr(md5(t), 4, 1))) % 64) AS bs
        |  FROM documents
        |), sc AS (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(bs, b -> (b % 7) - 3)), 0) AS BIGINT) AS s
        |  FROM tok
        |), p AS (
        |  SELECT d.doc_id,
        |    CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y,
        |    least(1000000, greatest(0, 500000 + sc.s * 10000)) AS p_ppm
        |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id
        |)
        |SELECT least(9, p_ppm // 100000) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(y) AS BIGINT) AS n_pos,
        |  CAST((1000000 * sum(y)) // count(*) AS BIGINT) AS obs_ppm,
        |  CAST(sum(p_ppm) // count(*) AS BIGINT) AS avg_p_ppm,
        |  CAST(sum((p_ppm - y * 1000000) * (p_ppm - y * 1000000))
        |    // (count(*) * 1000000) AS BIGINT) AS brier_ppm
        |FROM p GROUP BY 1""".stripMargin,
    // q180: known-item retrieval eval — BM25 shapes mirror q88's oracle
    // exactly; ranking on the rounded score with id tie-break, metric
    // columns are pure integers
    "q180_mrr" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(text, '[\s[:punct:]]+'), x -> len(x) > 0) AS ts
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, len(ts) AS dl, ts FROM toks WHERE len(ts) > 0
        |), stats AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM d
        |), q AS (
        |  SELECT doc_id AS qid, list_distinct(ts[1:3]) AS terms
        |  FROM toks WHERE doc_id < 20
        |), qt AS (
        |  SELECT qid, unnest(terms) AS tok FROM q
        |), tf AS (
        |  SELECT doc_id, dl, tok, count(*) AS tf
        |  FROM (SELECT doc_id, dl, unnest(ts) AS tok FROM d)
        |  GROUP BY doc_id, dl, tok
        |), dfreq AS (
        |  SELECT tok, count(*) AS df FROM tf GROUP BY tok
        |), sc AS (
        |  SELECT qt.qid, tf.doc_id AS id,
        |    round(sum(
        |      ln((n - df + 0.5) / (df + 0.5) + 1.0) *
        |      (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
        |  FROM qt JOIN tf USING (tok) JOIN dfreq USING (tok) CROSS JOIN stats
        |  GROUP BY qt.qid, tf.doc_id
        |), rk AS (
        |  SELECT qid, id,
        |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
        |  FROM sc
        |), hit AS (SELECT qid, rank FROM rk WHERE rank <= 10 AND id = qid)
        |SELECT q.qid, CAST(coalesce(hit.rank, 0) AS BIGINT) AS rank_in_top10,
        |  CAST(coalesce(1000000 // hit.rank, 0) AS BIGINT) AS rr_ppm,
        |  CASE WHEN hit.rank IS NOT NULL THEN 1 ELSE 0 END AS hit10
        |FROM q LEFT JOIN hit USING (qid)""".stripMargin,
    // q181: temperature sampling weights — pow enters once per group,
    // every output shape mirrored exactly
    "q181_temperature_mix" ->
      """WITH g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY source
        |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS N FROM g
        |), pw AS (
        |  SELECT source, n_docs, N,
        |    pow(CAST(n_docs AS DOUBLE) / N, 0.3) AS pw
        |  FROM g, t
        |), z AS (SELECT sum(pw) AS z FROM pw)
        |SELECT source, n_docs,
        |  CAST((1000000 * n_docs) // N AS BIGINT) AS p_ppm,
        |  CAST(round(1000000 * pw / z) AS BIGINT) AS q_ppm,
        |  CAST(round(1000000 * pw / z / (CAST(n_docs AS DOUBLE) / N)) AS BIGINT)
        |    AS rate_ppm
        |FROM pw, z""".stripMargin,
    // q188: presence contingency + exact centi-chi2 in HUGEINT
    "q188_chi2" ->
      """WITH docterm AS (
        |  SELECT DISTINCT doc_id, source,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(count(CASE WHEN source = 'src0' THEN 1 END) AS BIGINT)
        |      AS npos
        |  FROM documents
        |), cts AS (
        |  SELECT term,
        |    CAST(count(CASE WHEN source = 'src0' THEN 1 END) AS BIGINT) AS a,
        |    CAST(count(CASE WHEN source <> 'src0' THEN 1 END) AS BIGINT) AS b
        |  FROM docterm WHERE term <> '' GROUP BY term
        |)
        |SELECT term, a, b, npos - a AS c, (n - npos) - b AS d,
        |  CAST(CAST(100 AS HUGEINT) * n
        |      * (a * ((n - npos) - b) - b * (npos - a))
        |      * (a * ((n - npos) - b) - b * (npos - a))
        |    // (CAST(a + b AS HUGEINT) * ((npos - a) + ((n - npos) - b))
        |       * npos * (n - npos)) AS BIGINT) AS chi2_centi
        |FROM cts, tot
        |WHERE a + b > 0 AND (npos - a) + ((n - npos) - b) > 0
        |  AND npos > 0 AND n - npos > 0""".stripMargin,
    // q189: clipped 1/2-gram precision; bigrams via explicit index join
    "q189_ngram_overlap" ->
      """WITH pairs AS (
        |  SELECT c.doc_id AS pair_id, c.text AS cand, r.text AS ref
        |  FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1
        |  WHERE c.doc_id % 2 = 0
        |), c1 AS (
        |  SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
        |    SELECT pair_id, unnest(string_split(cand, ' ')) AS g FROM pairs)
        |  WHERE g <> '' GROUP BY 1, 2
        |), r1 AS (
        |  SELECT pair_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
        |    SELECT pair_id, unnest(string_split(ref, ' ')) AS g FROM pairs)
        |  WHERE g <> '' GROUP BY 1, 2
        |), o1 AS (
        |  SELECT c1.pair_id,
        |    CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS hit1,
        |    CAST(sum(cc) AS BIGINT) AS tot1
        |  FROM c1 LEFT JOIN r1 ON c1.pair_id = r1.pair_id AND c1.g = r1.g
        |  GROUP BY 1
        |), c2 AS (
        |  SELECT pair_id, g, CAST(count(*) AS BIGINT) AS cc FROM (
        |    SELECT pair_id, l[i] || ' ' || l[i + 1] AS g
        |    FROM (SELECT pair_id, string_split(cand, ' ') AS l FROM pairs),
        |      UNNEST(range(1, greatest(len(l), 1))) AS t(i))
        |  GROUP BY 1, 2
        |), r2 AS (
        |  SELECT pair_id, g, CAST(count(*) AS BIGINT) AS rc FROM (
        |    SELECT pair_id, l[i] || ' ' || l[i + 1] AS g
        |    FROM (SELECT pair_id, string_split(ref, ' ') AS l FROM pairs),
        |      UNNEST(range(1, greatest(len(l), 1))) AS t(i))
        |  GROUP BY 1, 2
        |), o2 AS (
        |  SELECT c2.pair_id,
        |    CAST(sum(least(cc, coalesce(rc, 0))) AS BIGINT) AS hit2,
        |    CAST(sum(cc) AS BIGINT) AS tot2
        |  FROM c2 LEFT JOIN r2 ON c2.pair_id = r2.pair_id AND c2.g = r2.g
        |  GROUP BY 1
        |)
        |SELECT o1.pair_id, hit1, tot1,
        |  CAST((1000000 * hit1) // tot1 AS BIGINT) AS p1_ppm,
        |  hit2, tot2, CAST((1000000 * hit2) // tot2 AS BIGINT) AS p2_ppm
        |FROM o1 JOIN o2 ON o1.pair_id = o2.pair_id
        |WHERE tot1 > 0 AND tot2 > 0""".stripMargin,
    // q190: two integer rankers, integer reciprocal contributions
    "q190_rrf" ->
      """WITH lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY
        |    len(list_filter(string_split(text, ' '), x -> x = 'spark'))
        |      DESC, doc_id) AS rank
        |  FROM documents
        |), lenr AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id)
        |    AS rank
        |  FROM documents
        |), u AS (
        |  SELECT doc_id, rank FROM lex WHERE rank <= 100
        |  UNION ALL
        |  SELECT doc_id, rank FROM lenr WHERE rank <= 100
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
        |  CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_ppm
        |FROM u GROUP BY doc_id
        |ORDER BY rrf_ppm DESC, doc_id LIMIT 50""".stripMargin
  )
}

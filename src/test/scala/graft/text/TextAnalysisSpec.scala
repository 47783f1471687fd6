package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  "tokens" should "split on whitespace and punctuation, dropping empties" in {
    val res = Seq("Hello, world!  foo-bar").toDF("t")
      .select(TextAnalysis.tokens($"t")).as[Seq[String]].head()
    res shouldBe Seq("Hello", "world", "foo", "bar")
  }

  "wordShingles" should "produce distinct k-shingles" in {
    val res = Seq("a b c b c").toDF("t")
      .select(TextAnalysis.wordShingles($"t", 2)).as[Seq[String]].head()
    res.toSet shouldBe Set("a b", "b c", "c b")
  }

  it should "handle texts shorter than k" in {
    val res = Seq("single").toDF("t")
      .select(TextAnalysis.wordShingles($"t", 2)).as[Seq[String]].head()
    res shouldBe Seq("single")
  }

  "rawShingles" should "keep every occurrence and guard short texts" in {
    val df = Seq("a b a b a", "x", "").toDF("t")
      .select(TextAnalysis.tokens($"t").as("ts"))
    val res = df.select(TextAnalysis.rawShingles($"ts", 2)).as[Seq[String]].collect()
    res(0) shouldBe Seq("a b", "b a", "a b", "b a") // duplicates preserved
    res(1) shouldBe Seq.empty // fewer than k tokens -> no partial gram
    res(2) shouldBe Seq.empty
  }

  "topRunCount" should "count the most frequent element of a sorted array" in {
    val df = Seq("a b a b a c", "x y", "").toDF("t")
      .select(TextAnalysis.tokens($"t").as("ts"))
    val res = df
      .select(TextAnalysis.topRunCount(
        array_sort(TextAnalysis.rawShingles($"ts", 2))))
      .as[Long].collect()
    res(0) shouldBe 2L // "a b" twice ("b a" twice too; max run = 2)
    res(1) shouldBe 1L
    res(2) shouldBe 0L // empty gram list
  }

  it should "match a driver-side reference on random corpora" in {
    val rnd = new scala.util.Random(42)
    val docs = (0 until 200).map { i =>
      val n = rnd.nextInt(30) // includes 0- and 1-token edge docs
      (i.toLong,
        (0 until n).map(_ => ('a' + rnd.nextInt(4)).toChar.toString).mkString(" "))
    }
    val df = docs.toDF("doc_id", "t")
      .select($"doc_id", TextAnalysis.tokens($"t").as("ts"))
    val grams = df.select($"doc_id",
      array_sort(TextAnalysis.rawShingles($"ts", 2)).as("g2"),
      TextAnalysis.rawShingles($"ts", 3).as("g3"))
    import org.apache.spark.sql.{functions => F}
    val got = grams.select($"doc_id",
        F.size($"g2").cast("long"),
        TextAnalysis.topRunCount($"g2"),
        (F.size($"g3") - F.size(array_distinct($"g3"))).cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // the native one-pass expression must agree with the column plan
    val gotNative = docs.toDF("doc_id", "t")
      .select($"doc_id", call_function("repetition_profile", $"t").as("p"))
      .select($"doc_id", $"p.n_2grams", $"p.top_2gram_n", $"p.dup_3gram_excess")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    docs.foreach { case (id, t) =>
      val toks = t.split("[\\s\\p{Punct}]+").filter(_.nonEmpty).toSeq
      def gr(k: Int) =
        toks.sliding(k).filter(_.length == k).map(_.mkString(" ")).toSeq
      val (g2, g3) = (gr(2), gr(3))
      val top2 =
        if (g2.isEmpty) 0L else g2.groupBy(identity).values.map(_.size).max.toLong
      val want = ((g2.size.toLong, top2, (g3.size - g3.distinct.size).toLong))
      withClue(s"doc $id ('$t'): ") {
        got(id) shouldBe want
        gotNative(id) shouldBe want
      }
    }
  }

  "charShingles" should "slide over characters" in {
    val res = Seq("abcd").toDF("t")
      .select(TextAnalysis.charShingles($"t", 3)).as[Seq[String]].head()
    res shouldBe Seq("abc", "bcd")
  }

  "normalize" should "lowercase and collapse whitespace" in {
    Seq("  Foo   BAR  ").toDF("t").select(TextAnalysis.normalize($"t"))
      .as[String].head() shouldBe "foo bar"
  }

  "qualityMetrics" should "produce exact integer counts" in {
    val df = Seq("The quick brown fox! 42 times.").toDF("t")
    val m = TextAnalysis.qualityMetrics($"t", Seq("the", "a", "of")).toMap
    val row = df.select(m("n_tokens").as("nt"), m("n_stopwords").as("ns"),
      m("n_punct").as("np"), m("n_digits").as("nd")).head()
    row.getInt(0) shouldBe 6
    row.getInt(1) shouldBe 1
    row.getInt(2) shouldBe 2 // ! and .
    row.getInt(3) shouldBe 2 // 4 and 2
  }

  "langId (trigram profiles)" should "classify sentences in eight languages" in {
    val samples = Seq(
      ("The quick brown fox jumps over the lazy dog and runs into the woods", "en"),
      ("Der schnelle braune Fuchs springt über den faulen Hund und läuft in den Wald", "de"),
      ("Le renard brun rapide saute par-dessus le chien paresseux dans les bois", "fr"),
      ("El rápido zorro marrón salta sobre el perro perezoso en el bosque", "es"),
      ("La volpe marrone salta sopra il cane pigro e corre per il bosco", "it"),
      ("A rápida raposa marrom salta sobre o cão preguiçoso que está na floresta", "pt"),
      ("De snelle bruine vos springt over de luie hond en rent het bos in", "nl"),
      ("Den snabba bruna räven hoppar över den lata hunden och springer in i skogen", "sv"))
    samples.foreach { case (text, expected) =>
      withClue(s"'$text': ") { LangId.detect(text) shouldBe expected }
    }
    LangId.detect("zzzz qqqq xxxx") shouldBe "und"
    LangId.detect("") shouldBe "und"
    LangId.detect(null) shouldBe "und"
  }

  it should "run as the lang_id codegen expression over a column" in {
    val res = Seq("the cat and the dog was in the house",
        "der Hund und die Katze in dem Haus")
      .toDF("t").select(TextAnalysis.langId($"t")).as[String].collect().toSeq
    res shouldBe Seq("en", "de")
  }

  "gopher rules" should "pass clean prose and fail rule violations" in {
    val goodDoc = (("the quick brown fox jumps over a lazy dog and then " * 6).trim)
    val bulletDoc = (1 to 60).map(i => s"- item $i of the list").mkString("\n")
    val symbolDoc = ("tag#" * 60) + " the a of and"
    val shortDoc = "the a of and tiny"
    def evalDoc(text: String): (Long, Int) = {
      val df = Seq(text).toDF("text")
      val m = TextAnalysis.gopherCounts($"text").toMap
      val stops = TextAnalysis.stopwordCount($"text",
        Seq("the", "a", "of", "and")).cast("long")
      df.select(m("n_words").as("n"),
          TextAnalysis.gopherPasses(m, stops).as("p"))
        .as[(Long, Int)].head()
    }
    evalDoc(goodDoc)._2 shouldBe 1
    evalDoc(goodDoc)._1 shouldBe 66L
    evalDoc(bulletDoc)._2 shouldBe 0 // every line is a bullet
    evalDoc(symbolDoc)._2 shouldBe 0 // symbol-word ratio over 10%
    evalDoc(shortDoc)._2 shouldBe 0 // under 50 words
  }

  "fingerprint" should "be stable under whitespace normalization" in {
    val fps = Seq("foo  bar", "foo bar ").toDF("t")
      .select(TextAnalysis.fingerprint($"t")).as[String].collect()
    fps(0) shouldBe fps(1)
  }

  "bpeishTokenCount" should "count sub-word pieces deterministically" in {
    // "internationalization" = 20 chars -> 5 pieces; "a" -> 1; plus 1 punct
    Seq("internationalization a.").toDF("t")
      .select(TextAnalysis.bpeishTokenCount($"t")).as[Long].head() shouldBe 7L
  }

  "chunkTokens" should "emit overlapping chunks with a short tail and skip empty docs" in {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 tokens
      (2L, "only three tokens"),
      (3L, "...")) // punctuation only -> zero tokens -> no rows
      .toDF("doc_id", "text")
    val rows = TextAnalysis.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, stride = 3)
      .as[(Long, Long, String, Long)].collect().toSet
    rows shouldBe Set(
      (1L, 0L, "t1 t2 t3 t4", 4L),
      (1L, 1L, "t4 t5 t6 t7", 4L), // overlap of one token at stride 3
      (1L, 2L, "t7 t8 t9 t10", 4L),
      (1L, 3L, "t10", 1L), // short tail
      (2L, 0L, "only three tokens", 3L))
    // the chunk cap bounds fan-out (and keeps parity with a bounded oracle)
    TextAnalysis.chunkTokens(docs, "doc_id", "text",
        chunkSize = 4, stride = 3, maxChunks = 2)
      .where($"doc_id" === 1).count() shouldBe 2
  }

  "bm25" should "score only matching docs, more query-term mass ranking higher" in {
    val docs = Seq(
      (1L, "spark table query spark runs"),
      (2L, "spark alone in this one here"),
      (3L, "nothing relevant at all")).toDF("doc_id", "text")
    val res = TextAnalysis.bm25(docs, "text", "doc_id",
        Seq("spark", "table", "query"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    res.keySet shouldBe Set(1L, 2L)
    res(1L) should be > res(2L)
    res.values.foreach(_ should be > 0.0)
  }

  "vocab" should "apply the floor, the cap, and dense frequency-ordered ids" in {
    import spark.implicits._
    val docs = Seq(
      (1L, "aa bb aa cc aa bb dd"),
      (2L, "bb cc ee")).toDF("doc_id", "text")
    // counts: aa=3 bb=3 cc=2 dd=1 ee=1; floor 2 drops dd/ee; cap 2 keeps
    // aa,bb (tie on 3 broken alphabetically)
    val v = TextAnalysis.vocab(docs, "text", topK = 2, minCount = 2)
      .select("tok", "cnt", "token_id")
      .as[(String, Long, Long)].collect().toList
    v shouldBe List(("aa", 3L, 1L), ("bb", 3L, 2L))
  }
}

package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SetSimJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force reference: all-pairs exact Jaccard over distinct sets. */
  private def brute(df: DataFrame, num: Int, den: Int): Set[(Long, Long)] = {
    val rows = df.select(col("id"), col("toks"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ts) => (id, ts.toSet) }
    (for {
      (i1, s1) <- rows; (i2, s2) <- rows if i1 < i2
      inter = (s1 & s2).size
      if den * inter > num * (s1.size + s2.size - inter)
    } yield (i1, i2)).toSet
  }

  private def run(df: DataFrame, num: Int, den: Int): Set[(Long, Long)] =
    SetSimJoin.jaccardPairsTokens(df, "id", "toks", num, den)
      .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet

  "jaccardPairsTokens" should "equal the brute-force threshold join" in {
    val df = Seq(
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("a", "b", "c", "e")), // J(1,2)=3/5 > 1/2
      (3L, Seq("a", "b")), //            J(1,3)=2/4  not > 1/2
      (4L, Seq("x", "y", "z")),
      (5L, Seq("x", "y", "z")), //       J(4,5)=1
      (6L, Seq("q"))).toDF("id", "toks")
    run(df, 1, 2) shouldBe Set((1L, 2L), (4L, 5L))
    run(df, 1, 2) shouldBe brute(df, 1, 2)
  }

  it should "be exact across thresholds on a randomized corpus" in {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"t$i").toList
    val docs = (0L until 60L).map { id =>
      val n = 1 + rnd.nextInt(12)
      (id, rnd.shuffle(vocab).take(n))
    }
    val df = docs.toDF("id", "toks")
    for ((num, den) <- Seq((1, 3), (1, 2), (7, 10), (9, 10)))
      withClue(s"tau=$num/$den") { run(df, num, den) shouldBe brute(df, num, den) }
  }

  // pins the r15 exactly-once candidate emission (min-common-prefix-token
  // rule replacing the per-mention distinct): a qualifying pair that
  // shares SEVERAL prefix tokens must still appear exactly once in the
  // candidate stream, and the candidate set must cover the brute-force
  // result (the verify step only ever shrinks it)
  "candidatePairs" should "emit every candidate exactly once" in {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"t$i").toList
    val docs = (0L until 50L).map { id =>
      val n = 3 + rnd.nextInt(10)
      (id, rnd.shuffle(vocab).take(n))
    }
    val df = docs.toDF("id", "toks")
    for ((num, den) <- Seq((1, 2), (9, 10))) withClue(s"tau=$num/$den") {
      val sorted = SetSimJoin.rankSorted(df, "id", "toks").localCheckpoint(false)
      val cands = SetSimJoin.candidatePairs(sorted, num, den)
        .as[(Long, Long)].collect()
      cands.length shouldBe cands.toSet.size // exactly-once
      brute(df, num, den).subsetOf(cands.toSet) shouldBe true // completeness
    }
  }

  it should "dedupe repeated input tokens before comparing" in {
    val df = Seq(
      (1L, Seq("a", "a", "b")), // distinct {a,b}
      (2L, Seq("a", "b", "b", "b"))).toDF("id", "toks")
    // distinct sets are identical -> J=1
    run(df.select(col("id"), array_distinct(col("toks")).as("toks")), 9, 10) shouldBe
      Set((1L, 2L))
  }

  it should "generate fewer candidates than token blocking at high tau" in {
    // near-dup corpus: shared boilerplate makes EVERY pair collide under
    // per-token blocking, while the rarity-ordered prefix keys only the
    // distinctive tail.
    val boiler = (0 until 8).map(i => s"common$i").toList
    val df = (0L until 30L).map(id => (id, boiler :+ s"unique$id"))
      .toDF("id", "toks")
    // All pairs share 8/10 of the union -> J = 8/10; at tau=9/10 nothing
    // qualifies, and prefix filtering should see that cheaply.
    run(df, 9, 10) shouldBe Set.empty
    run(df, 7, 10) shouldBe brute(df, 7, 10) // all C(30,2) pairs qualify
  }

  /** Directional containment reference. */
  private def bruteContain(df: DataFrame, num: Int, den: Int): Set[(Long, Long)] = {
    val rows = df.select(col("id"), col("toks"))
      .as[(Long, Seq[String])].collect()
      .map { case (id, ts) => (id, ts.toSet) }
    (for {
      (i1, s1) <- rows; (i2, s2) <- rows if i1 != i2
      inter = (s1 & s2).size
      if den * inter > num * s1.size
    } yield (i1, i2)).toSet
  }

  "containmentPairsTokens" should "flag a small quote inside a big document" in {
    val quote = (1 to 10).map(i => s"q$i")
    val article = quote ++ (1 to 200).map(i => s"body$i")
    val df = Seq(
      (1L, quote.toList), (2L, article.toList),
      (3L, (1 to 50).map(i => s"other$i").toList)).toDF("id", "toks")
    val out = SetSimJoin.containmentPairsTokens(df, "id", "toks", 4, 5)
      .select(col("id_small"), col("id_big")).as[(Long, Long)].collect().toSet
    out should contain((1L, 2L)) // quote ⊂ article
    out should not contain ((2L, 1L)) // article ⊄ quote
    // Jaccard at the same threshold misses it: J = 10/210
    SetSimJoin.jaccardPairsTokens(df, "id", "toks", 4, 5).count() shouldBe 0
  }

  it should "equal brute force across thresholds on a randomized corpus" in {
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 50).map(i => s"t$i").toList
    val docs = (0L until 50L).map { id =>
      (id, rnd.shuffle(vocab).take(1 + rnd.nextInt(15)))
    }
    val df = docs.toDF("id", "toks")
    for ((num, den) <- Seq((1, 2), (4, 5), (9, 10)))
      withClue(s"tau=$num/$den") {
        SetSimJoin.containmentPairsTokens(df, "id", "toks", num, den)
          .select(col("id_small"), col("id_big")).as[(Long, Long)]
          .collect().toSet shouldBe bruteContain(df, num, den)
      }
  }

  // pins the r16 byte-gated dictionary builds: the broadcast encode
  // (driver-dense ranks) and the distributed sort + monotone-id join
  // must induce the SAME global rarity order — i.e. the same candidate
  // prefixes and the same join output — even though the tid VALUES
  // differ (dense vs partition-major monotone)
  "rankSorted" should "induce an identical rarity order on both builds" in {
    val rnd = new scala.util.Random(31)
    val vocab = (0 until 60).map(i => s"w$i").toList
    val docs = (0L until 60L).map { id =>
      (id, rnd.shuffle(vocab).take(1 + rnd.nextInt(12)))
    } ++ Seq(
      // a document-frequency tie between a BMP token above the surrogate
      // range and a non-BMP one, in different documents: UTF-16 code
      // units order the emoji first, UTF-8 bytes (the join path's sort)
      // order it last
      60L -> List("\uFF71", "w1"), 61L -> List("\uFF71", "w2"),
      62L -> List("\uD83D\uDE00", "w1"), 63L -> List("\uD83D\uDE00", "w3"))
    val df = docs.toDF("id", "toks")
    val recs = df.select(col("id"), col("toks"))
      .where(org.apache.spark.sql.functions.size(col("toks")) > 0)
    def ranks(sorted: DataFrame): Map[Long, Seq[Long]] = {
      val rows = sorted.select(col("id"), col("tids"))
        .as[(Long, Seq[Long])].collect()
      val order = rows.flatMap(_._2).distinct.sorted.zipWithIndex
        .map { case (t, i) => (t, i.toLong) }.toMap
      rows.map { case (id, ts) => id -> ts.map(order) }.toMap
    }
    ranks(SetSimJoin.rankSortedBroadcast(recs)) shouldBe
      ranks(SetSimJoin.rankSortedJoin(recs))
    // and the full join agrees between the builds across thresholds
    for ((num, den) <- Seq((1, 2), (9, 10))) {
      def out(sortedRaw: DataFrame) = {
        val s = sortedRaw.localCheckpoint(false) // ONE materialization
        SetSimJoin.verifyPairs(s,
          SetSimJoin.candidatePairs(s, num, den), num, den)
          .select(col("id1"), col("id2")).as[(Long, Long)].collect().toSet
      }
      withClue(s"tau=$num/$den") {
        out(SetSimJoin.rankSortedBroadcast(recs)) shouldBe
          out(SetSimJoin.rankSortedJoin(recs))
      }
    }
  }

  "jaccardPairs" should "tokenize like the q17/q19 oracle tokenizer" in {
    val df = Seq(
      (1L, "the quick, brown fox!"),
      (2L, "the quick brown fox"),
      (3L, "entirely different words here")).toDF("doc_id", "text")
    val out = SetSimJoin.jaccardPairs(df, "text", "doc_id", 1, 2)
      .select(col("id1"), col("id2"), col("inter"), col("uni"))
      .as[(Long, Long, Long, Long)].collect().toSet
    out shouldBe Set((1L, 2L, 4L, 4L)) // identical distinct word sets
  }
}

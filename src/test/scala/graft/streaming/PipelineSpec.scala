package graft.streaming

import graft.SparkSpec
import graft.rdf.{QuadDiff, QuadStore}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def quadsDf(rows: (String, String, String, String)*) =
    rows.map { case (s, p, o, g) => (s, p, o, 2.toByte, null: String, null: String, g) }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  private val noNegations = quadsDf().limit(0)

  "processBatch" should "replace incoming graphs and run enrichers in order" in {
    val store = quadsDf(
      ("a", "name", "Alice", "doc1"),
      ("a", "phone", "111", "doc1"),
      ("z", "name", "Zed", "doc2"))
    val batch = quadsDf(
      ("a", "name", "Alicia", "doc1"), // changed
      ("a", "phone", "111", "doc1"))   // kept
    // enricher: mint an upper-cased copy of every added name in its own graph
    val upperEnr: QuadPipeline.Enricher = (st, diff) => QuadDiff(
      diff.added.where($"p" === "name")
        .select($"s", lit("NAME").as("p"), upper($"o").as("o"), $"oKind",
          $"oDt", $"oLang", lit("enr").as("g")),
      diff.removed.limit(0))

    val (next, diff) = QuadPipeline.processBatch(store, batch, noNegations, Seq(upperEnr))
    val result = next.select("s", "p", "o", "g")
      .as[(String, String, String, String)].collect().toSet
    result shouldBe Set(
      ("a", "name", "Alicia", "doc1"),
      ("a", "phone", "111", "doc1"),
      ("a", "NAME", "ALICIA", "enr"),
      ("z", "name", "Zed", "doc2")) // untouched graph survives
    diff.removed.select("o").as[String].collect().toSeq shouldBe Seq("Alice")
  }

  it should "honor negations for both document and enricher additions" in {
    val store = quadsDf()
    val batch = quadsDf(("a", "name", "Alice", "doc1"), ("b", "name", "Bob", "doc1"))
    val negations = quadsDf(("b", "name", "Bob", "user"))
    val (next, _) = QuadPipeline.processBatch(store, batch, negations, Seq.empty)
    next.select("s").as[String].collect().toSeq shouldBe Seq("a")
  }

  it should "be idempotent on re-ingestion (T2 invariant)" in {
    val batch = quadsDf(("a", "name", "Alice", "doc1"))
    val (once, _) = QuadPipeline.processBatch(quadsDf(), batch, noNegations, Seq.empty)
    val (twice, diff2) = QuadPipeline.processBatch(once, batch, noNegations, Seq.empty)
    diff2.isEmpty shouldBe true
    twice.count() shouldBe once.count()
  }

  it should "keep set semantics when an enricher re-emits what it derived before" in {
    // re-derives over the WHOLE store every batch, and emits each quad
    // twice: only quads the store lacks may land
    val reEmit: QuadPipeline.Enricher = (st, diff) => {
      val out = st.where($"p" === "name")
        .select($"s", lit("NAME").as("p"), upper($"o").as("o"), $"oKind",
          $"oDt", $"oLang", lit("enr").as("g"))
      QuadDiff(out.union(out), diff.removed.limit(0))
    }
    val (round1, _) = QuadPipeline.processBatch(quadsDf(),
      quadsDf(("a", "name", "Alice", "doc1")), noNegations, Seq(reEmit))
    val (round2, diff2) = QuadPipeline.processBatch(round1,
      quadsDf(("b", "name", "Bob", "doc2")), noNegations, Seq(reEmit))
    val keys = round2.select("s", "p", "o", "g").as[(String, String, String, String)]
      .collect().toSeq
    keys.size - keys.distinct.size shouldBe 0
    keys.toSet shouldBe Set(
      ("a", "name", "Alice", "doc1"), ("a", "NAME", "ALICE", "enr"),
      ("b", "name", "Bob", "doc2"), ("b", "NAME", "BOB", "enr"))
    // the round's diff names only what the round added
    diff2.added.select("s", "p", "o").as[(String, String, String)].collect().toSet shouldBe
      Set(("b", "name", "Bob"), ("b", "NAME", "BOB"))
  }

  "guarded" should "skip the enricher when no relevant additions flow" in {
    var ran = false
    val e = QuadPipeline.guarded(_.where($"p" === "location")) { (_, d) =>
      ran = true; QuadDiff(d.added.limit(0), d.removed.limit(0))
    }
    val d = QuadDiff(quadsDf(("a", "name", "x", "g")), quadsDf().limit(0))
    e(quadsDf(), d)
    ran shouldBe false
    val d2 = QuadDiff(quadsDf(("a", "location", "x", "g")), quadsDf().limit(0))
    e(quadsDf(), d2)
    ran shouldBe true
  }
}

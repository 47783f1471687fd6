package graft.enrich

import graft.SparkSpec
import graft.rdf.{QuadDiff, QuadStore}
import graft.streaming.Updater
import org.apache.spark.JobCounter
import org.apache.spark.sql.functions._

class GeocodingUpdaterSpec extends SparkSpec {
  import spark.implicits._

  private def quadsDf(rows: (String, String, String, String)*) =
    rows.map { case (s, p, o, g) => (s, p, o, 2.toByte, null: String, null: String, g) }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  private val S = graft.convert.Converters.schemaOrg

  "Geocoding.geocodePlaces" should "geocode only unaddressed places, via the cache" in {
    val quads = quadsDf(
      ("pl1", "rdf:type", S + "Place", "doc"),
      ("pl1", S + "name", "Office", "doc"),
      ("pl2", "rdf:type", S + "Place", "doc"),
      ("pl2", S + "name", "Cafe", "doc"),
      ("pl2", S + "address", "5 Rue X", "doc"), // already addressed -> guarded
      ("pl3", "rdf:type", S + "Place", "doc")) // no name -> nothing to geocode
    val cache = Seq(("Office", "1 Main St")).toDF("key", "value")
    var calls = 0
    val (diff, newCache) = Geocoding.geocodePlaces(quads, cache,
      name => { calls += 1; s"addr($name)" })
    diff.added.select("s", "o").as[(String, String)].collect().toSet shouldBe
      Set(("pl1", "1 Main St"))
    calls shouldBe 0 // the only candidate was a cache hit
    newCache.count() shouldBe 0
  }

  it should "treat a cached null (no-result) as a hit, never re-querying" in {
    val quads = quadsDf(
      ("pl1", "rdf:type", S + "Place", "doc"),
      ("pl1", S + "name", "Atlantis", "doc"))
    // pre-fix: value-null detection re-sent every no-result key to the
    // external service on every run
    val cache = Seq(("Atlantis", null: String)).toDF("key", "value")
    var calls = 0
    val (diff, newCache) = Geocoding.geocodePlaces(quads, cache,
      _ => { calls += 1; null })
    calls shouldBe 0
    newCache.count() shouldBe 0
    diff.added.count() shouldBe 0 // no address to add, and no fan-out
  }

  it should "call the geocoder once per distinct miss and return cache rows" in {
    val quads = quadsDf(
      ("pl1", "rdf:type", S + "Place", "doc"),
      ("pl1", S + "name", "Office", "doc"),
      ("pl2", "rdf:type", S + "Place", "doc"),
      ("pl2", S + "name", "Office", "doc")) // same name, one lookup
    val cache = Seq.empty[(String, String)].toDF("key", "value")
    val acc = spark.sparkContext.collectionAccumulator[String]("geo-calls")
    val (diff, newCache) = Geocoding.geocodePlaces(quads, cache,
      name => { acc.add(name); s"addr($name)" })
    diff.added.count() shouldBe 2
    newCache.as[(String, String)].collect().toSeq shouldBe Seq(("Office", "addr(Office)"))
    acc.value.size shouldBe 1
  }

  "Updater.applyUpdate" should "route adds, reject removals on read-only graphs as negations" in {
    val store = quadsDf(
      ("a", "p", "1", "dav:cal"), // writable source graph
      ("b", "p", "2", "doc:file"), // read-only source graph
      ("c", "p", "3", Updater.UserGraph))
    val diff = QuadDiff(
      added = quadsDf(
        ("x", "p", "10", "dav:cal"), // writable -> stays in its graph
        ("y", "p", "11", "doc:file")), // read-only -> lands in user graph
      removed = quadsDf(
        ("a", "p", "1", "dav:cal"), // writable removal applies
        ("b", "p", "2", "doc:file"))) // read-only removal -> negation
    val res = Updater.applyUpdate(store, diff, writableGraphs = Set("dav:cal"))

    val byGraph = res.store.select("s", "g").as[(String, String)].collect()
      .groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    byGraph("dav:cal") shouldBe Set("x")
    byGraph(Updater.UserGraph) shouldBe Set("c", "y")
    byGraph(Updater.NegationGraph) shouldBe Set("b")
    // the negated statement is suppressed from its source graph view
    byGraph.get("doc:file") shouldBe None
    res.negations.select("s").as[String].collect().toSeq shouldBe Seq("b")
  }

  it should "not duplicate store rows when negation variants share (s,p,o)" in {
    // two read-only removals with the same (s,p,o) but different oLang:
    // negations keeps both 6-column variants, and the suppression join's
    // probe must still be DISTINCT on (s,p,o) — pre-fix each surviving
    // NegationGraph row joined BOTH probe rows and came out twice
    val langed = Seq(
      ("b", "p", "2", 2.toByte, null: String, "en", "doc:file"),
      ("b", "p", "2", 2.toByte, null: String, "fr", "doc:file"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    val store = langed
    val diff = QuadDiff(
      added = langed.limit(0),
      removed = langed)
    val res = Updater.applyUpdate(store, diff, writableGraphs = Set.empty)
    res.negations.count() shouldBe 2 // both variants recorded
    val neg = res.store.where(col("g") === Updater.NegationGraph)
      .select("s", "oLang").as[(String, String)].collect().toSeq
    neg.sorted shouldBe Seq(("b", "en"), ("b", "fr")) // exactly once each
    // one row per quad in the whole store, no join fan-out
    res.store.count() shouldBe res.store.distinct().count()
  }

  it should "return the updated store committed" in {
    val store = quadsDf(("a", "p", "1", "dav:cal"), ("b", "p", "2", "doc:file"))
    val diff = QuadDiff(
      added = quadsDf(("x", "p", "10", "dav:cal")),
      removed = quadsDf(("b", "p", "2", "doc:file")))
    val res = Updater.applyUpdate(store, diff, writableGraphs = Set("dav:cal"))
    JobCounter.jobsDuring(spark.sparkContext) {
      QuadStore.commit(res.store) should be theSameInstanceAs res.store
    } shouldBe 0
  }

  it should "leave only the negation row for an addition it also negates" in {
    val store = quadsDf(("b", "p", "2", "doc:file"))
    val diff = QuadDiff(
      added = quadsDf(("b", "p", "2", "doc:file")), // lands in the user graph
      removed = quadsDf(("b", "p", "2", "doc:file"))) // read-only -> negation
    val res = Updater.applyUpdate(store, diff, writableGraphs = Set.empty)
    res.store.select("s", "p", "o", "g").as[(String, String, String, String)]
      .collect().toSeq shouldBe Seq(("b", "p", "2", Updater.NegationGraph))
  }
}

package graft.streaming

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicReference

import graft.SparkSpec
import graft.rdf.{Quad, QuadDiff, QuadStore, Sparql, SparqlEndpoint}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The reference's full deployment shape, live: a Structured Streaming
  * pipeline ingests documents into the graph-partitioned store and every
  * micro-batch atomically swaps the refreshed store into a running SPARQL
  * HTTP endpoint (`Pipeline` -> repository -> `SparqlService`). Queries
  * observe each batch's effects — including replace-graph semantics —
  * without endpoint restarts. */
class LiveServedStreamSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def ask(server: SparqlEndpoint.Server, query: String): String =
    client.send(
      HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.port}/sparql?query=" +
            URLEncoder.encode(query, "UTF-8")))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()

  "a live-served pipeline" should "answer over HTTP with each micro-batch's store" in {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Quad]
    val storePath = Files.createTempDirectory("graft-live").resolve("quads").toString
    val noNeg = spark.createDataset(Seq.empty[Quad]).toDF()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Quad.schema)

    val server = SparqlEndpoint.start(empty)
    val query = QuadPipeline.run(spark, stream.toDF(), storePath, noNeg,
        Seq.empty, triggerMs = 100, onStore = server.refresh)
      .start()
    try {
      // empty store: no bindings yet
      ask(server, "ASK { ?s <name> ?o }") shouldBe """{"head":{},"boolean":false}"""

      stream.addData(
        Quad("a", "name", "alice", Quad.LITERAL, null, null, "doc1"),
        Quad("b", "name", "bob", Quad.LITERAL, null, null, "doc2"))
      query.processAllAvailable()
      ask(server, "SELECT ?o WHERE { <a> <name> ?o }") should
        include(""""value":"alice"""")
      ask(server, "SELECT (COUNT(*) AS ?n) WHERE { ?s <name> ?o }") should
        include(""""value":"2"""")

      // replace-graph semantics visible live: doc1 re-ingested renames a
      stream.addData(Quad("a", "name", "alicia", Quad.LITERAL, null, null, "doc1"))
      query.processAllAvailable()
      val after = ask(server, "SELECT ?o WHERE { <a> <name> ?o }")
      after should include(""""value":"alicia"""")
      after should not include """"value":"alice""""
    } finally { query.stop(); server.stop() }
  }

  it should "publish a version that answers as a fresh read of the store path" in {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[Quad]
    val storePath = Files.createTempDirectory("graft-live").resolve("quads").toString
    val noNeg = spark.createDataset(Seq.empty[Quad]).toDF()
    // an enricher writing its own graph, so a batch touches two graphs
    val label: QuadPipeline.Enricher = (_, diff) => QuadDiff(
      diff.added.where(col("p") === "name")
        .withColumn("p", lit("label")).withColumn("g", lit("enr:label")),
      diff.removed.limit(0))
    val published = new AtomicReference[DataFrame]()
    val query = QuadPipeline.run(spark, stream.toDF(), storePath, noNeg,
        Seq(label), triggerMs = 100, onStore = published.set)
      .start()
    val q = "SELECT ?g ?s ?p ?o WHERE { GRAPH ?g { ?s ?p ?o } }"
    def rows(df: DataFrame): Seq[String] =
      Sparql.select(df, q).collect().toSeq.map(_.toString).sorted
    try {
      stream.addData(
        Quad("a", "name", "alice", Quad.LITERAL, null, null, "doc1"),
        Quad("a", "age", "31", Quad.LITERAL, null, null, "doc1"),
        Quad("b", "name", "bob", Quad.LITERAL, null, null, "doc2"))
      query.processAllAvailable()
      rows(published.get) shouldBe rows(QuadStore.read(spark, storePath))
      stream.addData(Quad("a", "name", "alicia", Quad.LITERAL, null, null, "doc1"))
      query.processAllAvailable()
      val version = published.get
      val want = rows(QuadStore.read(spark, storePath))
      want should contain("[doc1,a,name,alicia]")
      want should not contain "[doc1,a,age,31]"
      rows(version) shouldBe want
      QuadStore.commit(version) should be theSameInstanceAs version
    } finally query.stop()
  }
}

package graft.rdf

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder

import graft.SparkSpec

/** End-to-end HTTP tests of the SPARQL protocol endpoint: a real server on
  * an ephemeral port, a real JDK HttpClient. */
class SparqlEndpointSpec extends SparkSpec {
  import spark.implicits._

  private lazy val quads = Seq(
    ("alice", "name", "Alice", 2.toByte, null: String, null: String, "g1"),
    ("alice", "knows", "bob", 0.toByte, null: String, null: String, "g1"),
    ("bob", "name", "Bob, \"Bobby\"", 2.toByte, null: String, null: String, "g1"),
    ("alice", "mbox", "mailto:alice@example.com", 0.toByte, null: String, null: String, "g1"))
    .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  private def withServer[A](f: SparqlEndpoint.Server => A): A = {
    val server = SparqlEndpoint.start(quads)
    try f(server) finally server.stop()
  }

  private val client = HttpClient.newHttpClient()

  private def get(server: SparqlEndpoint.Server, query: String,
      accept: String = "application/sparql-results+json"): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(
          s"http://localhost:${server.port}/sparql?query=" +
            URLEncoder.encode(query, "UTF-8")))
        .header("Accept", accept).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  "the endpoint" should "answer a SELECT as SPARQL results JSON" in withServer { server =>
    val resp = get(server, "SELECT ?n WHERE { ?x <knows> ?y . ?y <name> ?n }")
    resp.statusCode() shouldBe 200
    resp.headers().firstValue("Content-Type").get() should
      include("application/sparql-results+json")
    resp.body() should include(""""vars":["n"]""")
    resp.body() should include(""""value":"Bob, \"Bobby\""""")
  }

  it should "keep ORDER BY in JSON and XML results over a multi-partition store" in
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048") {
      // the term-kind joins run as shuffle joins over several partitions,
      // which reorder rows unless the endpoint restores the query's order
      val orders = (1 to 60).map(o => (f"o:$o%03d", "status", Seq("F", "O", "P")(o % 3),
        2.toByte, null: String, null: String, "g1"))
        .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g").repartition(4)
      val server = SparqlEndpoint.start(orders)
      try {
        server.store.rdd.getNumPartitions should be > 1
        val want = (1 to 60).reverse.map(o => f"o:$o%03d")
        val q = "SELECT ?x ?st WHERE { ?x <status> ?st } ORDER BY DESC(?x)"
        val json = get(server, q).body()
        """"x":\{"type":"uri","value":"([^"]+)"""".r
          .findAllMatchIn(json).map(_.group(1)).toSeq shouldBe want
        val xml = get(server, q, accept = "application/sparql-results+xml").body()
        """<binding name="x"><uri>([^<]+)</uri>""".r
          .findAllMatchIn(xml).map(_.group(1)).toSeq shouldBe want
      } finally server.stop()
    }

  it should "answer POST form bodies and stream CSV on Accept" in withServer { server =>
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${server.port}/sparql"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .header("Accept", "text/csv")
        .POST(HttpRequest.BodyPublishers.ofString(
          "query=" + URLEncoder.encode(
            "SELECT ?x ?n WHERE { ?x <name> ?n } ORDER BY ?x", "UTF-8")))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    resp.statusCode() shouldBe 200
    val lines = resp.body().trim.split("\r\n").toSeq
    lines.head shouldBe "x,n"
    lines(1) shouldBe "alice,Alice"
    lines(2) shouldBe "bob,\"Bob, \"\"Bobby\"\"\""
  }

  it should "answer ASK with a boolean document" in withServer { server =>
    get(server, "ASK { <alice> <knows> ?y }").body() shouldBe
      """{"head":{},"boolean":true}"""
    get(server, "ASK { <bob> <knows> ?y }").body() shouldBe
      """{"head":{},"boolean":false}"""
    get(server, "ASK { <alice> <knows> ?y }",
      accept = "application/sparql-results+xml").body() should
      include("<boolean>true</boolean>")
  }

  private def postForm(server: SparqlEndpoint.Server, key: String, value: String,
      accept: String = "*/*"): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${server.port}/sparql"))
        .header("Content-Type", "application/x-www-form-urlencoded")
        .header("Accept", accept)
        .POST(HttpRequest.BodyPublishers.ofString(
          key + "=" + URLEncoder.encode(value, "UTF-8")))
        .build(),
      HttpResponse.BodyHandlers.ofString())

  it should "negotiate SPARQL XML and TSV result formats" in withServer { server =>
    val xml = get(server, "SELECT ?n WHERE { <alice> <name> ?n }",
      accept = "application/sparql-results+xml")
    xml.statusCode() shouldBe 200
    xml.body() should include("""<variable name="n"/>""")
    xml.body() should include("""<binding name="n"><literal>Alice</literal></binding>""")
    val tsv = get(server, "SELECT ?x ?n WHERE { ?x <name> ?n } ORDER BY ?x",
      accept = "text/tab-separated-values")
    tsv.body().split("\n").toSeq.take(2) shouldBe Seq("?x\t?n", "alice\tAlice")
  }

  it should "type IRI-shaped bindings as uri in JSON and XML results" in withServer { server =>
    val json = get(server, "SELECT ?m WHERE { <alice> <mbox> ?m }")
    json.body() should include(""""m":{"type":"uri","value":"mailto:alice@example.com"}""")
    val xml = get(server, "SELECT ?m WHERE { <alice> <mbox> ?m }",
      accept = "application/sparql-results+xml")
    xml.body() should include(
      """<binding name="m"><uri>mailto:alice@example.com</uri></binding>""")
    // plain literals keep their term type
    get(server, "SELECT ?n WHERE { <alice> <name> ?n }").body() should
      include(""""n":{"type":"literal","value":"Alice"}""")
  }

  it should "serve term kinds from the store, not from string shape" in withServer { server =>
    // an IRI-shaped LITERAL (oKind=2) must be typed literal: the term
    // table overrides the lexical-shape heuristic
    val s2 = SparqlEndpoint.start(Seq(
      ("doc1", "excerpt", "mailto:spoof@example.com", 2.toByte,
        null: String, null: String, "g1"),
      ("doc1", "author", "alice", 0.toByte, null: String, null: String, "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g"))
    try {
      get(s2, "SELECT ?t WHERE { <doc1> <excerpt> ?t }").body() should
        include(""""t":{"type":"literal","value":"mailto:spoof@example.com"}""")
      // a plain-named IRI object (no scheme — the heuristic would call it
      // a literal) is typed uri from its stored kind
      get(s2, "SELECT ?a WHERE { <doc1> <author> ?a }").body() should
        include(""""a":{"type":"uri","value":"alice"}""")
      // subject-position terms are IRIs even when they never appear as objects
      get(s2, "SELECT ?s WHERE { ?s <excerpt> ?t }").body() should
        include(""""s":{"type":"uri","value":"doc1"}""")
    } finally s2.stop()
  }

  it should "type a blank-node subject as bnode, not uri" in {
    val s2 = SparqlEndpoint.start(Seq(
      ("_:b1", "u:p", "v", 2.toByte, null: String, null: String, "g1"),
      ("u:a", "u:p", "v", 2.toByte, null: String, null: String, "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g"))
    try {
      val q = """SELECT ?x WHERE { ?x <u:p> "v" }"""
      val json = get(s2, q).body()
      json should include(""""x":{"type":"bnode","value":"_:b1"}""")
      json should include(""""x":{"type":"uri","value":"u:a"}""")
      get(s2, q, accept = "application/sparql-results+xml").body() should
        include("""<binding name="x"><bnode>_:b1</bnode></binding>""")
    } finally s2.stop()
  }

  it should "serve numeric aggregate projections as complete literal bindings" in
    withServer { server =>
      // the AgentMatchEnricher query shape (reference
      // `AgentMatchEnricher.scala:101-112`): a numeric COUNT column next
      // to stored-term columns. The term-kind join must skip the bigint
      // column (ANSI mode would cast the term table to bigint and throw
      // mid-stream on the first IRI) while still typing the term columns
      // from the store.
      val resp = get(server,
        "SELECT ?x (COUNT(?o) AS ?cnt) WHERE { ?x ?p ?o } GROUP BY ?x ORDER BY ?x")
      resp.statusCode() shouldBe 200
      val body = resp.body()
      body should include(""""x":{"type":"uri","value":"alice"}""")
      body should include(""""cnt":{"type":"literal","value":"3"}""")
      body should include(""""cnt":{"type":"literal","value":"1"}""")
      body should endWith("]}}") // response ran to completion, not killed mid-stream
      val xml = get(server,
        "SELECT ?x (COUNT(?o) AS ?cnt) WHERE { ?x ?p ?o } GROUP BY ?x ORDER BY ?x",
        accept = "application/sparql-results+xml")
      xml.body() should include("""<binding name="cnt"><literal>3</literal></binding>""")
      xml.body() should endWith("</results></sparql>")
    }

  it should "serve a literal's datatype and language in JSON and XML results" in {
    val s2 = SparqlEndpoint.start(Seq(
      ("e1", "startDate", "2024-03-12T08:30:00Z", 2.toByte, Quad.Xsd.dateTime,
        null: String, "g1"),
      ("e1", "name", "Fete", 2.toByte, null: String, "fr", "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g"))
    try {
      val q = "SELECT ?d ?n WHERE { <e1> <startDate> ?d . <e1> <name> ?n }"
      val json = get(s2, q).body()
      json should include(""""d":{"type":"literal","value":"2024-03-12T08:30:00Z",""" +
        s""""datatype":"${Quad.Xsd.dateTime}"}""")
      json should include(""""n":{"type":"literal","value":"Fete","xml:lang":"fr"}""")
      val xml = get(s2, q, accept = "application/sparql-results+xml").body()
      xml should include(s"""<binding name="d"><literal datatype="${Quad.Xsd.dateTime}">""" +
        "2024-03-12T08:30:00Z</literal></binding>")
      xml should include("""<binding name="n"><literal xml:lang="fr">Fete</literal></binding>""")
    } finally s2.stop()
  }

  it should "type path ends, SAMPLE, sub-select, VALUES and one-sided UNION bindings" in {
    // u:b has no minted scheme, so only its carried kind makes it a uri;
    // the literal reached by the same path looks like an IRI
    val s2 = SparqlEndpoint.start(Seq(
      ("u:a", "u:p", "u:b", 0.toByte, null: String, null: String, "g1"),
      ("u:b", "u:p", "mailto:x@y.example", 2.toByte, null: String, null: String, "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g"))
    try {
      val path = get(s2, "SELECT ?y WHERE { <u:a> <u:p>+ ?y }").body()
      path should include(""""y":{"type":"uri","value":"u:b"}""")
      path should include(""""y":{"type":"literal","value":"mailto:x@y.example"}""")
      get(s2, "CONSTRUCT { <u:a> <u:reach> ?y } WHERE { <u:a> <u:p>+ ?y }",
        accept = "application/n-quads").body().split("\n").toSet shouldBe Set(
        s"""<u:a> <u:reach> <u:b> <${Sparql.ConstructedGraph}> .""",
        s"""<u:a> <u:reach> "mailto:x@y.example" <${Sparql.ConstructedGraph}> .""")
    } finally s2.stop()
    withServer { server =>
      get(server, "SELECT (SAMPLE(?y) AS ?s) WHERE { ?x <knows> ?y }").body() should
        include(""""s":{"type":"uri","value":"bob"}""")
      get(server, "SELECT ?y WHERE { { SELECT ?y WHERE { ?x <knows> ?y } } }").body() should
        include(""""y":{"type":"uri","value":"bob"}""")
      get(server, "SELECT ?x WHERE { <alice> <name> ?n . VALUES ?x { <c:1> } }").body() should
        include(""""x":{"type":"uri","value":"c:1"}""")
      val union = get(server,
        "SELECT ?x ?n WHERE { { ?x <knows> ?y } UNION { <bob> <name> ?n } }").body()
      union should include("""{"x":{"type":"uri","value":"alice"}}""")
      union should include("""{"n":{"type":"literal","value":"Bob, \"Bobby\""}}""")
    }
  }

  it should "run as many jobs for JSON and XML results, and a variable CONSTRUCT object, " +
    "as for CSV and a ground object" in {
    val server = SparqlEndpoint.start(quads)
    def jobs(q: String, accept: String): Int =
      org.apache.spark.JobCounter.jobsDuring(spark.sparkContext) {
        get(server, q, accept).statusCode() shouldBe 200
      }
    try {
      Seq("SELECT ?p ?o WHERE { <alice> ?p ?o }",
        "SELECT ?x ?n WHERE { ?x <knows> ?y . ?y <name> ?n } ORDER BY ?x",
        "SELECT DISTINCT ?n WHERE { <alice> <knows> ?a . ?a <knows>* ?b . ?b <name> ?n }")
        .foreach { q =>
          val csv = jobs(q, "text/csv")
          jobs(q, "application/sparql-results+json") shouldBe csv
          jobs(q, "application/sparql-results+xml") shouldBe csv
        }
      val where = "WHERE { ?x <knows> ?y . ?y <name> ?n }"
      jobs(s"CONSTRUCT { ?x <friendName> ?n } $where", "application/n-quads") shouldBe
        jobs(s"""CONSTRUCT { ?x <friendName> "n" } $where""", "application/n-quads")
    } finally server.stop()
  }

  it should "round-trip a SPARQL UPDATE (insert -> query -> delete -> negation check)" in
    withServer { server =>
      // insert through the front door
      postForm(server,
        "update", """INSERT DATA { <dave> <name> "Dave" }""").statusCode() shouldBe 200
      get(server, """SELECT ?x WHERE { ?x <name> "Dave" }""").body() should
        include(""""value":"dave"""")
      // rewrite via DELETE/INSERT WHERE
      postForm(server, "update",
        """DELETE { ?x <name> ?n } INSERT { ?x <nick> ?n } WHERE {
          |  ?x <name> ?n . FILTER(?n = "Dave")
          |}""".stripMargin).statusCode() shouldBe 200
      get(server, """SELECT ?n WHERE { <dave> <nick> ?n }""").body() should
        include(""""value":"Dave"""")
      // delete and verify gone (ASK negation)
      postForm(server, "update",
        """DELETE DATA { GRAPH <graft:user> { <dave> <nick> "Dave" } }""")
        .statusCode() shouldBe 200
      get(server, """ASK { <dave> ?p ?o }""").body() shouldBe
        """{"head":{},"boolean":false}"""
      // the served snapshot reflects the applied updates
      server.store.count() shouldBe quads.count()
    }

  it should "serve CONSTRUCT results as N-Quads" in withServer { server =>
    val resp = get(server,
      """CONSTRUCT { ?y <knownBy> ?x } WHERE { ?x <knows> ?y }""",
      accept = "application/n-quads")
    resp.statusCode() shouldBe 200
    resp.headers().firstValue("Content-Type").get() should include("application/n-quads")
    // "alice" is a subject of the store, so the kind join-back types the
    // bound object as an IRI (pre-fix this emitted the literal "alice")
    resp.body().trim shouldBe
      s"""<bob> <knownBy> <alice> <${Sparql.ConstructedGraph}> ."""
  }

  it should "serve CONSTRUCT results as Turtle on Accept and round-trip them" in
    withServer { server =>
      val resp = get(server,
        """CONSTRUCT { ?x <http://schema.org/knows> ?y } WHERE { ?x <knows> ?y }""",
        accept = "text/turtle")
      resp.statusCode() shouldBe 200
      resp.headers().firstValue("Content-Type").get() should include("text/turtle")
      resp.body() should include("@prefix schema: <http://schema.org/> .")
      resp.body() should include("schema:knows")
      // the served document parses back to the constructed triple
      val back = graft.sources.Turtle.parse(resp.body(), "g")
      back.map(q => (q.s, q.p, q.o)) shouldBe
        Seq(("alice", "http://schema.org/knows", "bob"))
    }

  it should "serve overlapping requests concurrently (nproc+1 pool)" in {
    // every request calls a SERVICE stub that holds the call for ~400 ms
    // and counts the calls in flight, so two calls overlapping in time
    // proves the executor is a pool, not the old serial
    // setExecutor(null). (A store whose scan sleeps proves nothing: the
    // served version is committed, so no request re-runs that scan.)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    val stub = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    stub.createContext("/sparql", { (ex: com.sun.net.httpserver.HttpExchange) =>
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try {
        Thread.sleep(400)
        val body = ("""{"head":{"vars":["n"]},"results":{"bindings":""" +
          """[{"n":{"type":"literal","value":"Alice"}}]}}""").getBytes("UTF-8")
        ex.getResponseHeaders.set("Content-Type", "application/sparql-results+json")
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
      } finally { inFlight.decrementAndGet(); ex.close() }
    }: com.sun.net.httpserver.HttpHandler)
    val stubPool = java.util.concurrent.Executors.newFixedThreadPool(4)
    stub.setExecutor(stubPool)
    stub.start()
    val server = SparqlEndpoint.start(quads)
    try {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val q = s"""SELECT ?x WHERE { ?x <name> ?n .
                 |  SERVICE <http://localhost:${stub.getAddress.getPort}/sparql> { ?y <name> ?n }
                 |}""".stripMargin
      val f1 = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = get(server, q).statusCode()
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = get(server, q).statusCode()
      })
      f1.get() shouldBe 200
      f2.get() shouldBe 200
      // both requests were in their SERVICE call at the same moment
      maxInFlight.get() should be >= 2
      pool.shutdown()
    } finally { server.stop(); stub.stop(0); stubPool.shutdown() }
  }

  it should "serve CONSTRUCT results as RDF/XML on Accept, round-tripping through an XML parser" in
    withServer { server =>
      val resp = get(server,
        """CONSTRUCT { ?x <http://schema.org/knows> ?y } WHERE { ?x <knows> ?y }""",
        accept = "application/rdf+xml")
      resp.statusCode() shouldBe 200
      resp.headers().firstValue("Content-Type").get() should include("application/rdf+xml")
      // the served document is real XML: parse with scala-xml, then the
      // RDF/XML reader maps it back to the constructed triple
      val xml = scala.xml.XML.loadString(resp.body())
      xml.label shouldBe "RDF"
      val back = graft.sources.RdfXml.parse(resp.body(), "g")
      back.map(q => (q.s, q.p, q.o)) shouldBe
        Seq(("alice", "http://schema.org/knows", "bob"))
    }

  it should "serve graph results as JSON-LD and TriG on Accept" in withServer { server =>
    val jld = get(server,
      """CONSTRUCT { ?x <http://schema.org/knows> ?y } WHERE { ?x <knows> ?y }""",
      accept = "application/ld+json")
    jld.statusCode() shouldBe 200
    jld.headers().firstValue("Content-Type").get() should include("application/ld+json")
    jld.body() should include(""""@graph":[""")
    jld.body() should include(
      """"http://schema.org/knows":[{"@id":"bob"}]""")
    val trig = get(server, "DESCRIBE <alice>", accept = "application/trig")
    trig.statusCode() shouldBe 200
    trig.headers().firstValue("Content-Type").get() should include("application/trig")
    trig.body() should include("<g1> {")
    trig.body() should include("<knows> <bob>")
  }

  it should "serve DESCRIBE results as N-Quads" in withServer { server =>
    val resp = get(server, "DESCRIBE <alice>", accept = "application/n-quads")
    resp.statusCode() shouldBe 200
    resp.headers().firstValue("Content-Type").get() should include("application/n-quads")
    resp.body().trim.split("\n").toSet shouldBe Set(
      """<alice> <name> "Alice" <g1> .""",
      """<alice> <knows> <bob> <g1> .""",
      """<alice> <mbox> <mailto:alice@example.com> <g1> .""")
  }

  it should "accept application/sparql-update bodies" in withServer { server =>
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://localhost:${server.port}/sparql"))
        .header("Content-Type", "application/sparql-update")
        .POST(HttpRequest.BodyPublishers.ofString(
          """INSERT DATA { <erin> <name> "Erin" }"""))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    resp.statusCode() shouldBe 200
    get(server, """SELECT ?x WHERE { ?x <name> "Erin" }""").body() should
      include(""""value":"erin"""")
  }

  it should "reject malformed updates with 400" in withServer { server =>
    postForm(server, "update", "FROB THE STORE").statusCode() shouldBe 400
  }

  it should "reject malformed queries with 400" in withServer { server =>
    get(server, "SELECT WHERE oops").statusCode() shouldBe 400
  }

  it should "reject a malformed ASK with 400" in withServer { server =>
    get(server, "ASK { ?x <name> }").statusCode() shouldBe 400
  }

  it should "serve the SPARQL service description on query-less GETs" in
    withServer { server =>
      val resp = client.send(
        HttpRequest.newBuilder(URI.create(s"http://localhost:${server.port}/sparql"))
          .GET().build(),
        HttpResponse.BodyHandlers.ofString())
      resp.statusCode() shouldBe 200
      resp.body() should include("sparql-service-description#Service")
      resp.body() should include("UnionDefaultGraph")
      resp.body() should include("SPARQL11Update")
    }
}

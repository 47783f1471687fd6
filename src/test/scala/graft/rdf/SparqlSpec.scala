package graft.rdf

import graft.SparkSpec

class SparqlSpec extends SparkSpec {
  import spark.implicits._

  private def quad(s: String, p: String, o: String, g: String = "g1") =
    (s, p, o, 2.toByte, null: String, null: String, g)

  private lazy val quads = Seq(
    quad("alice", "name", "Alice"),
    quad("alice", "age", "31"),
    quad("alice", "knows", "bob"),
    quad("bob", "name", "Bob"),
    quad("bob", "age", "7"),
    quad("carol", "name", "Carol", "g2"))
    .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  "Sparql.select" should "run a BGP with projection" in {
    Sparql.select(quads,
      "SELECT ?n WHERE { ?x <knows> ?y . ?y <name> ?n }")
      .as[String].collect().toSeq shouldBe Seq("Bob")
  }

  it should "support FILTER with numeric comparison and boolean ops" in {
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <age> ?a . FILTER(?a >= 18) }""")
      .as[String].collect().toSeq shouldBe Seq("alice")
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <age> ?a . FILTER(?a >= 18 || ?a < 10) }""")
      .as[String].collect().toSet shouldBe Set("alice", "bob")
  }

  it should "support OPTIONAL with null padding" in {
    val rows = Sparql.select(quads,
      "SELECT ?x ?y WHERE { ?x <name> ?n . OPTIONAL { ?x <knows> ?y } }")
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSet
    rows shouldBe Set(("alice", Some("bob")), ("bob", None), ("carol", None))
  }

  it should "support GRAPH scoping" in {
    Sparql.select(quads,
      "SELECT ?x WHERE { GRAPH <g2> { ?x <name> ?n } }")
      .as[String].collect().toSeq shouldBe Seq("carol")
  }

  it should "support UNION, DISTINCT, ORDER BY and LIMIT" in {
    val res = Sparql.select(quads,
      """SELECT DISTINCT ?n WHERE {
        |  { ?x <name> ?n } UNION { ?x <knows> ?n }
        |} ORDER BY ?n LIMIT 3""".stripMargin)
      .as[String].collect().toSeq
    res shouldBe Seq("Alice", "Bob", "Carol")
  }

  it should "match string literals in FILTER" in {
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(?n = "Alice") }""")
      .as[String].collect().toSeq shouldBe Seq("alice")
  }

  it should "support BIND and VALUES" in {
    val res = Sparql.select(quads,
      """SELECT ?x ?tag WHERE {
        |  ?x <name> ?n . BIND("person" AS ?tag)
        |  VALUES ?x { <alice> <bob> }
        |}""".stripMargin)
      .as[(String, String)].collect().toSet
    res shouldBe Set(("alice", "person"), ("bob", "person"))
  }

  it should "support multi-variable VALUES rows" in {
    val res = Sparql.select(quads,
      """SELECT ?x ?n WHERE {
        |  ?x <name> ?n .
        |  VALUES (?x ?n) { (<alice> "Alice") (<bob> "nope") }
        |}""".stripMargin).as[(String, String)].collect().toSet
    res shouldBe Set(("alice", "Alice")) // bob binds "Bob", not "nope"
  }

  "Sparql.ask" should "answer existence queries" in {
    Sparql.ask(quads, "ASK { <alice> <knows> ?y }") shouldBe true
    Sparql.ask(quads, "ASK { <carol> <knows> ?y }") shouldBe false
  }

  // ------------------------- reference enricher query forms (round 2) ----

  private lazy val agentQuads = Seq(
    quad("a1", "rdf:type", "personal:Agent"),
    quad("a1", "schema:name", "Ann"),
    quad("a2", "rdf:type", "personal:Agent"),
    quad("a2", "schema:name", "Bob"),
    quad("a3", "rdf:type", "personal:Agent"),
    quad("a3", "schema:name", "Cid"),
    quad("m1", "schema:recipient", "a1"),
    quad("m2", "schema:recipient", "a1"),
    quad("m3", "schema:sender", "a1"),
    quad("m3", "schema:recipient", "a2"),
    quad("a1", "schema:email", "e1"),
    quad("e1", "schema:name", "ann@example.org"),
    quad("f1", "personal:sameAs", "f2"),
    quad("f2", "personal:sameAs", "f3"),
    quad("f1", "schema:name", "Facet One"),
    quad("f2", "schema:name", "Facet Two"),
    quad("f2", "schema:tel", "+331"),
    quad("f2", "schema:url", "http://x"),
    quad("f3", "schema:name", "Facet Three"))
    .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  "aggregates" should
    "run the AgentMatchEnricher message-count query (GROUP BY + COUNT over OPTIONAL-UNION)" in {
    // AgentMatchEnricher.scala:101-112 verbatim shape
    val res = Sparql.select(agentQuads,
      """SELECT ?agent ?name (COUNT(?msg) as ?msgCount) WHERE {
        |  ?agent a <personal:Agent> ;
        |           <schema:name> ?name .
        |  OPTIONAL {
        |    {
        |      ?msg <schema:recipient> ?agent .
        |    } UNION {
        |      ?msg <schema:sender> ?agent .
        |    }
        |  }
        |} GROUP BY ?agent ?name""".stripMargin)
      .as[(String, String, Long)].collect().toSet
    res shouldBe Set(("a1", "Ann", 3L), ("a2", "Bob", 1L), ("a3", "Cid", 0L))
  }

  "sequence paths" should "traverse email/name (AgentMatchEnricher.scala:96-99)" in {
    val res = Sparql.select(agentQuads,
      """SELECT ?agent ?emailAddress WHERE {
        |  ?agent a <personal:Agent> ;
        |         <schema:email>/<schema:name> ?emailAddress .
        |}""".stripMargin)
      .as[(String, String)].collect().toSet
    res shouldBe Set(("a1", "ann@example.org"))
  }

  "star paths + sub-select" should
    "run the PrimaryFacetEnricher query (sameAs* then description-count ordering)" in {
    // PrimaryFacetEnricher.scala:18-28 shape, with ?startFacet bound via
    // VALUES (the reference binds it as a prepared-query parameter)
    val res = Sparql.select(agentQuads,
      """SELECT ?facet WHERE {
        |  {
        |    SELECT ?facet ?startFacet {
        |      ?facet <personal:sameAs>* ?startFacet .
        |    }
        |  }
        |  VALUES ?startFacet { <f3> }
        |  ?facet ?descriptionProperty ?descriptionValue .
        |} GROUP BY ?facet ORDER BY DESC(COUNT(?descriptionProperty))""".stripMargin)
      .as[String].collect().toSeq
    // f1 -> f3 and f2 -> f3 through the closure, f3 via zero-length;
    // f2 has 4 description triples, f1 has 2 (sameAs counts), f3 has 1
    res shouldBe Seq("f2", "f1", "f3")
  }

  it should "include zero-length matches for terms without edges" in {
    val res = Sparql.select(agentQuads,
      """SELECT ?x WHERE { ?x <personal:sameAs>* <a1> . }""")
      .as[String].collect().toSeq
    res shouldBe Seq("a1") // no sameAs edges into a1: identity only
  }

  "path modifiers" should "distinguish p+ (no zero-length) from p* and p?" in {
    val plus = Sparql.select(agentQuads,
      "SELECT ?x WHERE { ?x <personal:sameAs>+ <f3> . }")
      .as[String].collect().toSet
    plus shouldBe Set("f1", "f2") // closure only, no identity
    val opt = Sparql.select(agentQuads,
      "SELECT ?x WHERE { ?x <personal:sameAs>? <f3> . }")
      .as[String].collect().toSet
    opt shouldBe Set("f2", "f3") // direct edge + identity, no 2-hop f1
  }

  "filter builtins" should "support REGEX, STRSTARTS, CONTAINS and BOUND" in {
    Sparql.select(agentQuads,
      """SELECT ?a WHERE { ?a <schema:name> ?n . FILTER(REGEX(?n, "^Facet .w")) }""")
      .as[String].collect().toSet shouldBe Set("f2") // "Facet Two"
    Sparql.select(agentQuads,
      """SELECT ?a WHERE { ?a <schema:name> ?n . FILTER(STRSTARTS(?n, "Facet")) }""")
      .as[String].collect().toSet shouldBe Set("f1", "f2", "f3")
    Sparql.select(agentQuads,
      """SELECT ?a WHERE { ?a <schema:name> ?n . FILTER(CONTAINS(?n, "hree") && STRSTARTS(?n, "Facet")) }""")
      .as[String].collect().toSet shouldBe Set("f3")
    val bound = Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a <rdf:type> <personal:Agent> .
        |  OPTIONAL { ?a <schema:email> ?e }
        |  FILTER(BOUND(?e))
        |}""".stripMargin).as[String].collect().toSet
    bound shouldBe Set("a1")
    val unbound = Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a <rdf:type> <personal:Agent> .
        |  OPTIONAL { ?a <schema:email> ?e }
        |  FILTER(!BOUND(?e))
        |}""".stripMargin).as[String].collect().toSet
    unbound shouldBe Set("a2", "a3")
  }

  // --------------------- round-3: inverse/negated paths, EXISTS, UPDATE --

  "inverse paths" should "swap subject and object (^p)" in {
    Sparql.select(quads, "SELECT ?x WHERE { ?x ^<knows> <alice> }")
      .as[String].collect().toSeq shouldBe Seq("bob")
  }

  it should "compose with sequence steps (^p1/p2)" in {
    val res = Sparql.select(agentQuads,
      "SELECT ?e ?n WHERE { ?e ^<schema:email>/<schema:name> ?n . ?e <schema:name> ?en }")
      .as[(String, String)].collect().toSet
    // e1's agent is a1 (via inverse email), whose names include "Ann"
    res should contain(("e1", "Ann"))
  }

  "negated property sets" should "match any predicate outside the set" in {
    Sparql.select(agentQuads,
      "SELECT ?o WHERE { <f2> !(<personal:sameAs>|<schema:name>) ?o }")
      .as[String].collect().toSet shouldBe Set("+331", "http://x")
    Sparql.select(agentQuads,
      "SELECT ?o WHERE { <f2> !<personal:sameAs> ?o }")
      .as[String].collect().toSet shouldBe Set("Facet Two", "+331", "http://x")
  }

  "FILTER EXISTS / NOT EXISTS" should "keep or drop solutions by pattern existence" in {
    Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a a <personal:Agent> .
        |  FILTER EXISTS { ?a <schema:email> ?e }
        |}""".stripMargin).as[String].collect().toSet shouldBe Set("a1")
    Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a a <personal:Agent> .
        |  FILTER NOT EXISTS { ?a <schema:email> ?e }
        |}""".stripMargin).as[String].collect().toSet shouldBe Set("a2", "a3")
  }

  // the reference's differentFrom guard, stated verbatim
  // (core/src/main/com/thymeflow/enricher/AbstractEnricher.scala:17-23)
  private lazy val guardQuads = Seq(
    quad("d1", "personal:sameAs", "d2"),
    quad("d2", "personal:differentFrom", "d3"),
    quad("d3", "personal:sameAs", "d4"),
    quad("d1", "schema:name", "One"),
    quad("d4", "schema:name", "Four"))
    .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  "the differentFrom guard" should
    "run the AbstractEnricher ASK with starred sequence steps" in {
    Sparql.ask(guardQuads,
      """ASK {
        |  ?facet1 <personal:sameAs>*/<personal:differentFrom>/<personal:sameAs>* ?facet2
        |}""".stripMargin) shouldBe true
    // pair-scoped, as the enricher binds ?facet1/?facet2
    val pairs = Sparql.select(guardQuads,
      """SELECT ?facet1 ?facet2 WHERE {
        |  ?facet1 <personal:sameAs>*/<personal:differentFrom>/<personal:sameAs>* ?facet2 .
        |  VALUES ?facet1 { <d1> }
        |}""".stripMargin).as[(String, String)].collect().toSet
    pairs shouldBe Set(("d1", "d3"), ("d1", "d4"))
    // no differentFrom edge anywhere -> guard is false
    Sparql.ask(agentQuads,
      """ASK {
        |  ?facet1 <personal:sameAs>*/<personal:differentFrom>/<personal:sameAs>* ?facet2
        |}""".stripMargin) shouldBe false
  }

  "Sparql.construct" should "instantiate templates per solution with set semantics" in {
    val g = Sparql.construct(quads,
      """CONSTRUCT { ?y <knownBy> ?x . ?x <tag> "person" } WHERE { ?x <knows> ?y }""")
    g.select("s", "p", "o", "g").as[(String, String, String, String)].collect().toSet shouldBe
      Set(("bob", "knownBy", "alice", Sparql.ConstructedGraph),
        ("alice", "tag", "person", Sparql.ConstructedGraph))
  }

  it should "route template GRAPH blocks and skip unbound OPTIONAL solutions" in {
    val g = Sparql.construct(quads,
      """CONSTRUCT { GRAPH <out> { ?x <friend> ?y } } WHERE {
        |  ?x <name> ?n . OPTIONAL { ?x <knows> ?y }
        |}""".stripMargin)
    g.select("s", "p", "o", "g").as[(String, String, String, String)].collect().toSet shouldBe
      Set(("alice", "friend", "bob", "out")) // bob/carol have no ?y binding
  }

  "Sparql.update" should "apply INSERT DATA / DELETE DATA with graph routing" in {
    val s1 = Sparql.update(quads,
      """INSERT DATA { <dave> <name> "Dave" . GRAPH <g9> { <dave> <age> "4" } }""")
    s1.count() shouldBe quads.count() + 2
    s1.where($"s" === "dave" && $"p" === "name").select("g")
      .as[String].collect().toSeq shouldBe Seq(Sparql.UserGraph)
    s1.where($"s" === "dave" && $"p" === "age").select("g")
      .as[String].collect().toSeq shouldBe Seq("g9")
    // re-inserting an existing statement is a no-op (set semantics)
    Sparql.update(s1, """INSERT DATA { <dave> <name> "Dave" }""").count() shouldBe s1.count()
    val s2 = Sparql.update(s1, """DELETE DATA { <dave> <name> "Dave" }""")
    s2.where($"s" === "dave").count() shouldBe 1 // only the g9 quad remains
  }

  it should "apply DELETE/INSERT WHERE as one atomic diff" in {
    val s1 = Sparql.update(quads,
      """DELETE { ?x <name> ?n } INSERT { ?x <label> ?n } WHERE {
        |  ?x <name> ?n . FILTER(?n = "Alice")
        |}""".stripMargin)
    s1.where($"p" === "name").select("o").as[String].collect().toSet shouldBe
      Set("Bob", "Carol") // Alice renamed
    s1.where($"p" === "label").select("s", "o", "g")
      .as[(String, String, String)].collect().toSeq shouldBe
      Seq(("alice", "Alice", Sparql.UserGraph))
  }

  it should "bind a variable GRAPH position in INSERT/DELETE templates" in {
    // INSERT { GRAPH ?g { … } }: the graph binds per solution — pre-fix
    // the raw token "?g" became a literal graph NAMED "?g"
    val s1 = Sparql.update(quads,
      """INSERT { GRAPH ?g { ?x <hasName> ?n } }
        |WHERE { GRAPH ?g { ?x <name> ?n } }""".stripMargin)
    s1.where($"p" === "hasName").select("s", "o", "g")
      .as[(String, String, String)].collect().toSet shouldBe Set(
      ("alice", "Alice", "g1"), ("bob", "Bob", "g1"), ("carol", "Carol", "g2"))
    s1.where($"g" === "?g").count() shouldBe 0
    // and the matching variable-graph DELETE removes exactly those rows
    val s2 = Sparql.update(s1,
      """DELETE { GRAPH ?g { ?x <hasName> ?n } }
        |WHERE { GRAPH ?g { ?x <hasName> ?n } }""".stripMargin)
    s2.where($"p" === "hasName").count() shouldBe 0
    s2.count() shouldBe quads.count()
  }

  it should "decode string escapes in literals (ECHAR + \\uXXXX)" in {
    val s1 = Sparql.update(quads,
      "INSERT DATA { <e> <note> \"line1\\nline2\\t\\u0041\" }")
    s1.where($"p" === "note").select("o").as[String].head() shouldBe
      "line1\nline2\tA"
    // and FILTER comparisons see the decoded form
    Sparql.select(s1,
      "SELECT ?x WHERE { ?x <note> ?v . FILTER(CONTAINS(?v, \"\\n\")) }")
      .as[String].collect().toSeq shouldBe Seq("e")
  }

  it should "decode \\UXXXXXXXX escapes and reject malformed hex loudly" in {
    // supplementary-plane code point (U+1F600) decodes to a surrogate pair
    val s1 = Sparql.update(quads,
      "INSERT DATA { <e> <note> \"pre\\U0001F600post\" }")
    s1.where($"p" === "note").select("o").as[String].head() shouldBe
      "pre" + new String(Character.toChars(0x1F600)) + "post"
    // malformed hex names the offending literal instead of a bare
    // NumberFormatException
    val eU = intercept[IllegalArgumentException] {
      Sparql.update(quads, "INSERT DATA { <e> <note> \"\\U0001FZ00\" }")
    }
    eU.getMessage should include ("\\U")
    val eu = intercept[IllegalArgumentException] {
      Sparql.update(quads, "INSERT DATA { <e> <note> \"\\uZZ41\" }")
    }
    eu.getMessage should include ("\\u")
    // hex-valid but out-of-range code points (r13 ADVICE): beyond U+10FFFF
    val eRange = intercept[IllegalArgumentException] {
      Sparql.update(quads, "INSERT DATA { <e> <note> \"\\U00110000\" }")
    }
    eRange.getMessage should include ("out-of-range \\U")
    // and \UFFFFFFFF, which overflowed Integer.parseInt pre-fix
    val eOverflow = intercept[IllegalArgumentException] {
      Sparql.update(quads, "INSERT DATA { <e> <note> \"\\UFFFFFFFF\" }")
    }
    eOverflow.getMessage should include ("out-of-range \\U")
    // a surrogate code point is not a valid scalar value either
    val eSurrogate = intercept[IllegalArgumentException] {
      Sparql.update(quads, "INSERT DATA { <e> <note> \"\\U0000D800\" }")
    }
    eSurrogate.getMessage should include ("out-of-range \\U")
  }

  it should "not drop plain-literal solutions when two groups carry term metadata" in {
    // both GRAPH groups bind ?n in object position while isLiteral(?n)
    // forces metadata projection — pre-fix the __dt_n/__lang_n side
    // columns (null for plain literals) joined as keys and null = null
    // removed every solution
    val rows = Sparql.select(quads,
      """SELECT ?x ?y WHERE {
        |  GRAPH <g1> { ?x <name> ?n }
        |  GRAPH <g2> { ?y <name> ?m }
        |  FILTER(isLiteral(?n) && isLiteral(?m))
        |}""".stripMargin)
      .as[(String, String)].collect().toSet
    rows shouldBe Set(("alice", "carol"), ("bob", "carol"))
    // same shape through FILTER EXISTS whose inner group rebinds the
    // metadata-bearing variable: pre-fix the semi join keyed on the null
    // __dt_n column and matched nothing
    val ex = Sparql.select(quads,
      """SELECT ?x WHERE {
        |  ?x <name> ?n . FILTER(isLiteral(?n))
        |  FILTER EXISTS { ?x <name> ?n }
        |}""".stripMargin).as[String].collect().toSet
    ex shouldBe Set("alice", "bob", "carol")
  }

  it should "honor REGEX and REPLACE flag arguments (i, q)" in {
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "^alice$", "i")) }""")
      .as[String].collect().toSeq shouldBe Seq("alice")
    // q: literal-pattern match — the dot must not act as a wildcard
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "A.ice", "q")) }""")
      .collect() shouldBe empty
    val replaced = Sparql.select(quads,
      """SELECT ?r WHERE {
        |  ?x <name> ?n . FILTER(?x = "alice")
        |  BIND(REPLACE(?n, "ALICE", "X", "i") AS ?r)
        |}""".stripMargin).as[String].collect().toSeq
    replaced shouldBe Seq("X")
    intercept[Exception] {
      Sparql.select(quads,
        """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "a", "z")) }""")
        .collect()
    }
  }

  it should "treat the x flag as XPath whitespace-stripping, not Java COMMENTS" in {
    // whitespace in the pattern is removed: "^ A l i c e $" matches Alice
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "^ A l i c e $", "x")) }""")
      .as[String].collect().toSeq shouldBe Seq("alice")
    // a literal '#' stays a literal '#' under XPath x — Java's COMMENTS
    // flag would truncate the pattern to "Alice" (rest = comment) and
    // wrongly match; per XPath this is the seven-char regex "Alice#x"
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "Alice#x", "x")) }""")
      .collect() shouldBe empty
    // whitespace INSIDE a character class survives (XQuery F&O §5.6.1.1
    // exception): "Bo[ ]b" requires a real space, which "Bob" lacks
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "Bo[ ]b", "x")) }""")
      .collect() shouldBe empty
    // and an escaped space survives stripping too
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(REGEX(?n, "Bo\\ b", "x")) }""")
      .collect() shouldBe empty
  }

  it should "support the DELETE WHERE shorthand across graphs" in {
    val s1 = Sparql.update(quads, "DELETE WHERE { ?x <name> ?n }")
    // removes names in g1 AND g2 (union default graph)
    s1.where($"p" === "name").count() shouldBe 0
    s1.count() shouldBe 3 // the age/knows rows survive
  }

  "PREFIX declarations" should "expand declared prefixed names only" in {
    // agentQuads store raw 'schema:name'-style IRI strings; a query
    // declaring s: against a full base reaches them after expansion
    val expanded = Sparql.select(agentQuads,
      """PREFIX s: <schema:>
        |PREFIX p: <personal:>
        |SELECT ?a ?n WHERE { ?a a p:Agent ; s:name ?n }""".stripMargin)
      .as[(String, String)].collect().toSet
    expanded shouldBe Set(("a1", "Ann"), ("a2", "Bob"), ("a3", "Cid"))
    // undeclared prefixed names pass through as literal IRI strings
    Sparql.select(agentQuads,
      "SELECT ?a WHERE { ?a <rdf:type> <personal:Agent> }")
      .as[String].collect().toSet shouldBe Set("a1", "a2", "a3")
    // PREFIX headers in front of ASK
    Sparql.ask(agentQuads,
      """PREFIX p: <personal:>
        |ASK { ?f p:sameAs ?g }""".stripMargin) shouldBe true
  }

  "property alternation" should "match any listed predicate, incl. under closure" in {
    // the AgentMatchEnricher OPTIONAL-UNION stated as a path alternation
    val counts = Sparql.select(agentQuads,
      """SELECT ?agent (COUNT(?msg) AS ?n) WHERE {
        |  ?agent a <personal:Agent> .
        |  OPTIONAL { ?msg (<schema:recipient>|<schema:sender>) ?agent }
        |} GROUP BY ?agent""".stripMargin)
      .as[(String, Long)].collect().toMap
    counts shouldBe Map("a1" -> 3L, "a2" -> 1L, "a3" -> 0L)
    // closure over the union relation: sameAs and differentFrom edges mix
    Sparql.select(guardQuads,
      "SELECT ?y WHERE { <d1> (<personal:sameAs>|<personal:differentFrom>)+ ?y }")
      .as[String].collect().toSet shouldBe Set("d2", "d3", "d4")
    // inverted alternation
    Sparql.select(agentQuads,
      "SELECT ?m WHERE { <a1> ^(<schema:recipient>|<schema:sender>) ?m }")
      .as[String].collect().toSet shouldBe Set("m1", "m2", "m3")
  }

  "MINUS" should "drop solutions compatible with the inner group" in {
    Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a a <personal:Agent> .
        |  MINUS { ?a <schema:email> ?e }
        |}""".stripMargin).as[String].collect().toSet shouldBe Set("a2", "a3")
  }

  it should "keep every solution when MINUS shares no variables (SPARQL 1.1 §8.3.3)" in {
    // disjoint domains -> no solution is compatible -> MINUS removes nothing
    Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a a <personal:Agent> .
        |  MINUS { ?m <schema:email> ?e }
        |}""".stripMargin).as[String].collect().toSet shouldBe Set("a1", "a2", "a3")
    // FILTER NOT EXISTS differs from MINUS here (SPARQL 1.1 §8.3.3's
    // canonical example): the probe is non-empty, so it removes EVERY
    // solution — scalar emptiness semantics
    Sparql.select(agentQuads,
      """SELECT ?a WHERE {
        |  ?a a <personal:Agent> .
        |  FILTER NOT EXISTS { ?m <schema:email> ?e }
        |}""".stripMargin).count() shouldBe 0
  }

  it should "treat a variable an OPTIONAL left unbound as compatible (SPARQL 1.1 §18.5)" in {
    // x1's OPTIONAL binds ?a to p0, x2's leaves ?a unbound; the store has
    // one p0 self-loop (z) and p0 itself is no self-loop
    val store = Seq(
      quad("u:x1", "u:p1", "u:y"), quad("u:x2", "u:p1", "u:y"),
      quad("u:p0", "u:p0", "la"), quad("u:x1", "u:p0", "lb"),
      quad("u:z", "u:p0", "u:z"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    def xs(filter: String): Set[String] = Sparql.select(store,
      s"""SELECT ?x WHERE { ?x <u:p1> ?y
         |  OPTIONAL { ?a <u:p0> "la" . ?x ?a "lb" . } $filter }""".stripMargin)
      .as[String].collect().toSet
    // unbound ?a: the inner pattern matches z, so NOT EXISTS drops x2 and
    // EXISTS keeps it; bound ?a = p0 matches nothing
    xs("FILTER NOT EXISTS { ?a <u:p0> ?a }") shouldBe Set("u:x1")
    xs("FILTER EXISTS { ?a <u:p0> ?a }") shouldBe Set("u:x2")
    // MINUS needs a shared variable bound on both sides: x2 stays
    xs("MINUS { ?a <u:p0> ?a }") shouldBe Set("u:x1", "u:x2")
    xs("MINUS { ?a <u:p0> \"la\" }") shouldBe Set("u:x2")
    // an inner OPTIONAL leaving ?a unbound: compatible with either x for
    // EXISTS, and no shared variable bound on both sides for MINUS
    val innerOpt = "{ ?w <u:p0> ?w OPTIONAL { ?w <u:q> ?a } }"
    xs(s"FILTER NOT EXISTS $innerOpt") shouldBe Set.empty
    xs(s"MINUS $innerOpt") shouldBe Set("u:x1", "u:x2")
  }

  "CONSTRUCT/UPDATE term kinds" should "come from the store for variable bindings" in {
    val store = Seq(
      ("mid:m1", "schema:headline", "Re: lunch", Quad.LITERAL, null: String, null: String, "g1"),
      ("mid:m1", "schema:sender", "c:alice", Quad.IRI, null: String, null: String, "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    val g = Sparql.construct(store,
      """CONSTRUCT { ?m <p:head> ?h . ?m <p:who> ?s } WHERE {
        |  ?m <schema:headline> ?h . ?m <schema:sender> ?s
        |}""".stripMargin)
    val kinds = g.select("p", "oKind").as[(String, Byte)].collect().toMap
    // a free-text literal that LOOKS scheme-prefixed ("Re: ...") must not
    // become <Re: lunch>; a term the store knows as an IRI stays one even
    // though "c:" is no minted scheme
    kinds("p:head") shouldBe Quad.LITERAL
    kinds("p:who") shouldBe Quad.IRI
  }

  it should "keep a blank-node subject a blank node in object position" in {
    val store = Seq(("_:b1", "u:p", "v", Quad.LITERAL, null: String, null: String, "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    val g = Sparql.construct(store, """CONSTRUCT { <u:a> <u:q> ?x } WHERE { ?x <u:p> "v" }""")
    val Array((o, kind)) = g.select("o", "oKind").as[(String, Byte)].collect()
    kind shouldBe Quad.BNODE
    // N-Quads: `_:b1`, not the invalid `<_:b1>`
    graft.sources.NTriples.fmtTerm(o, kind, null, null) shouldBe "_:b1"
  }

  it should "carry literal datatype and language tags through CONSTRUCT" in {
    val store = Seq(
      ("e1", "schema:startDate", "2024-03-12T08:30:00Z", Quad.LITERAL,
        Quad.Xsd.dateTime, null: String, "g1"),
      ("e1", "schema:name", "Fete", Quad.LITERAL, null: String, "fr", "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    val g = Sparql.construct(store,
      """CONSTRUCT { ?e <p:when> ?d . ?e <p:label> ?n } WHERE {
        |  ?e <schema:startDate> ?d . ?e <schema:name> ?n
        |}""".stripMargin)
    val rows = g.select("p", "o", "oDt", "oLang").collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), Option(r.getString(2)), Option(r.getString(3))))).toMap
    rows("p:when") shouldBe (("2024-03-12T08:30:00Z", Some(Quad.Xsd.dateTime), None))
    rows("p:label") shouldBe (("Fete", None, Some("fr")))
  }

  it should "parse typed and language-tagged literals in DATA blocks and templates" in {
    val s1 = Sparql.update(quads,
      """INSERT DATA {
        |  <e1> <date> "2024-01-01"^^<http://www.w3.org/2001/XMLSchema#date> .
        |  <e1> <greet> "bonjour"@fr
        |}""".stripMargin)
    val r = s1.where($"s" === "e1").select("p", "o", "oDt", "oLang").collect()
      .map(x => x.getString(0) ->
        ((x.getString(1), Option(x.getString(2)), Option(x.getString(3))))).toMap
    r("date") shouldBe
      (("2024-01-01", Some("http://www.w3.org/2001/XMLSchema#date"), None))
    r("greet") shouldBe (("bonjour", None, Some("fr")))
    // ground template literals carry the suffix through CONSTRUCT too
    val g = Sparql.construct(s1,
      """CONSTRUCT { ?x <tag> "fixed"@en } WHERE { ?x <greet> ?g }""")
    g.select("o", "oLang").as[(String, String)].collect().toSet shouldBe
      Set(("fixed", "en"))
  }

  it should "fall back to the strict IRI shape for values the store never saw" in {
    val g = Sparql.construct(quads,
      """CONSTRUCT { ?x <p:mail> ?m } WHERE {
        |  ?x <name> ?n . BIND("mailto:x@y.example" AS ?m)
        |}""".stripMargin)
    g.select("oKind").distinct().as[Byte].collect().toSeq shouldBe Seq(Quad.IRI)
    Sparql.looksLikeIri("Re: lunch") shouldBe false
    Sparql.looksLikeIri("foo:bar") shouldBe false // unknown scheme
    Sparql.looksLikeIri("urn:graft:agent:x") shouldBe true
    Sparql.looksLikeIri("mailto:a b@c") shouldBe false // whitespace
  }

  "Sparql.describe" should "describe ground IRIs and WHERE-bound variables" in {
    val store = Seq(
      ("c:1", "name", "Ann", Quad.LITERAL, null: String, null: String, "g1"),
      ("c:1", "nation", "n:7", Quad.IRI, null: String, null: String, "g1"),
      ("n:7", "name", "GERMANY", Quad.LITERAL, null: String, null: String, "g1"),
      ("c:2", "nation", "n:7", Quad.IRI, null: String, null: String, "g1"),
      ("n:8", "name", "FRANCE", Quad.LITERAL, null: String, null: String, "g1"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    // symmetric concise description: subject rows + incoming IRI links
    Sparql.describe(store, "DESCRIBE <n:7>")
      .select("s", "p", "o").as[(String, String, String)].collect().toSet shouldBe
      Set(("n:7", "name", "GERMANY"), ("c:1", "nation", "n:7"), ("c:2", "nation", "n:7"))
    Sparql.describe(store, "DESCRIBE ?n WHERE { <c:1> <nation> ?n }")
      .select("s", "p", "o").as[(String, String, String)].collect().toSet shouldBe
      Set(("n:7", "name", "GERMANY"), ("c:1", "nation", "n:7"), ("c:2", "nation", "n:7"))
    // DESCRIBE * takes every variable of the group
    Sparql.describe(store, "DESCRIBE * WHERE { ?c <nation> ?n }")
      .select("s").distinct().as[String].collect().toSet shouldBe
      Set("c:1", "c:2", "n:7")
  }

  "CONSTRUCT WHERE" should "use the pattern as its own template" in {
    val g = Sparql.construct(quads,
      "CONSTRUCT WHERE { ?x <knows> ?y }")
    g.select("s", "p", "o").as[(String, String, String)].collect().toSet shouldBe
      Set(("alice", "knows", "bob"))
  }

  "OFFSET" should "skip ordered solutions before LIMIT" in {
    Sparql.select(quads,
      """SELECT ?n WHERE { ?x <name> ?n } ORDER BY ?n OFFSET 1 LIMIT 1""")
      .as[String].collect().toSeq shouldBe Seq("Bob")
  }

  "GROUP_CONCAT and SAMPLE" should "aggregate with deterministic order/choice" in {
    val res = Sparql.select(quads,
      """SELECT ?x (GROUP_CONCAT(?v; SEPARATOR=", ") AS ?vals) (SAMPLE(?v) AS ?one)
        |WHERE { ?x ?p ?v . FILTER(?p != "knows") } GROUP BY ?x
        |ORDER BY ?x""".stripMargin)
      .as[(String, String, String)].collect().toSeq
    res shouldBe Seq(
      ("alice", "31, Alice", "31"), // sorted concat; SAMPLE = stable min
      ("bob", "7, Bob", "7"),
      ("carol", "Carol", "Carol"))
  }

  "HAVING and multi-key ORDER BY" should "filter groups and sort on several keys" in {
    val res = Sparql.select(agentQuads,
      """SELECT ?agent (COUNT(?msg) AS ?n) WHERE {
        |  ?agent a <personal:Agent> .
        |  OPTIONAL { ?msg (<schema:recipient>|<schema:sender>) ?agent }
        |} GROUP BY ?agent HAVING (COUNT(?msg) > 0)
        |ORDER BY DESC(COUNT(?msg)) ?agent""".stripMargin)
      .as[(String, Long)].collect().toSeq
    res shouldBe Seq(("a1", 3L), ("a2", 1L)) // a3 (0 messages) filtered out
    // multi-key: ties on the first key break on the second
    Sparql.select(quads,
      "SELECT ?x ?v WHERE { ?x ?p ?v } ORDER BY ?x DESC(?v) LIMIT 2")
      .as[(String, String)].collect().toSeq shouldBe
      Seq(("alice", "bob"), ("alice", "Alice"))
  }

  "count distinct" should "honor DISTINCT inside COUNT" in {
    val res = Sparql.select(agentQuads,
      """SELECT ?agent (COUNT(DISTINCT ?p) AS ?np) WHERE {
        |  ?agent ?p ?v .
        |  VALUES ?agent { <a1> }
        |} GROUP BY ?agent""".stripMargin)
      .as[(String, Long)].collect().toSet
    res shouldBe Set(("a1", 3L)) // rdf:type, schema:name, schema:email
  }

  // ---- expression/builtin surface (SPARQL 1.1 §17.4 subset) ----

  /** Quads with language tags, typed literals and IRI-kind objects. */
  private lazy val typedQuads = Seq(
    ("d1", "label", "Hello world", 2.toByte, null: String, "en", "g1"),
    ("d1", "label", "Hallo Welt", 2.toByte, null: String, "de", "g1"),
    ("d1", "label", "plain", 2.toByte, null: String, null: String, "g1"),
    ("d1", "score", "3.5", 2.toByte,
      "http://www.w3.org/2001/XMLSchema#decimal", null: String, "g1"),
    ("d1", "link", "d2", 0.toByte, null: String, null: String, "g1"),
    ("d2", "score", "41", 2.toByte, null: String, null: String, "g1"))
    .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  "expressions" should "evaluate arithmetic in FILTER and BIND" in {
    Sparql.select(quads,
      """SELECT ?x ?d WHERE {
        |  ?x <age> ?a . BIND(?a * 2 + 1 AS ?d) FILTER(?a / 2 > 10)
        |}""".stripMargin)
      .as[(String, Double)].collect().toSeq shouldBe Seq(("alice", 63.0))
  }

  it should "evaluate expression projections, also over grouped solutions" in {
    Sparql.select(quads,
      """SELECT ?x (STRLEN(?n) * 10 AS ?len10) WHERE { ?x <name> ?n }
        |ORDER BY ?x""".stripMargin)
      .as[(String, Double)].collect().toSeq shouldBe
      Seq(("alice", 50.0), ("bob", 30.0), ("carol", 50.0))
    Sparql.select(quads,
      """SELECT ?x (COUNT(?v) AS ?n) (COUNT(?v) * 2 AS ?n2) WHERE {
        |  ?x ?p ?v
        |} GROUP BY ?x ORDER BY ?x""".stripMargin)
      .as[(String, Long, Double)].collect().toSeq shouldBe
      Seq(("alice", 3L, 6.0), ("bob", 2L, 4.0), ("carol", 1L, 2.0))
  }

  it should "support STR, UCASE/LCASE, SUBSTR, CONCAT, REPLACE, STRBEFORE/STRAFTER" in {
    Sparql.select(quads,
      """SELECT (UCASE(?n) AS ?u) (LCASE(?n) AS ?l) (SUBSTR(?n, 2, 3) AS ?mid)
        |  (CONCAT(?n, "!") AS ?bang) (REPLACE(?n, "[aeiou]", "_") AS ?repl)
        |WHERE { ?x <name> ?n . FILTER(?n = "Alice") }""".stripMargin)
      .as[(String, String, String, String, String)].collect().toSeq shouldBe
      Seq(("ALICE", "alice", "lic", "Alice!", "Al_c_"))
    Sparql.select(quads,
      """SELECT (STRBEFORE(?n, "i") AS ?b) (STRAFTER(?n, "i") AS ?a)
        |  (STRBEFORE(?n, "zz") AS ?none)
        |WHERE { ?x <name> ?n . FILTER(?n = "Alice") }""".stripMargin)
      .as[(String, String, String)].collect().toSeq shouldBe
      Seq(("Al", "ce", ""))
    // supplementary-plane separator: one code point, two UTF-16 units —
    // the STRAFTER offset must count code points or it drops a leading char
    val emoji = Seq(("x", "name", "a😀tail")).toDF("s", "p", "o")
    Sparql.select(emoji,
      "SELECT (STRAFTER(?n, \"😀\") AS ?a) WHERE { ?x <name> ?n }")
      .as[String].collect().toSeq shouldBe Seq("tail")
  }

  it should "evaluate LANG and LANGMATCHES over carried term metadata" in {
    Sparql.select(typedQuads,
      """SELECT ?l WHERE { ?x <label> ?l . FILTER(LANG(?l) = "en") }""")
      .as[String].collect().toSeq shouldBe Seq("Hello world")
    // '*' matches any tagged literal; plain literals have LANG "" per spec
    Sparql.select(typedQuads,
      """SELECT ?l WHERE {
        |  ?x <label> ?l . FILTER(LANGMATCHES(LANG(?l), "*"))
        |} ORDER BY ?l""".stripMargin)
      .as[String].collect().toSeq shouldBe Seq("Hallo Welt", "Hello world")
    // prefix matching: "de" matches "de-AT"-style subtags case-insensitively
    Sparql.select(typedQuads,
      """SELECT ?l WHERE { ?x <label> ?l . FILTER(LANGMATCHES(LANG(?l), "DE")) }""")
      .as[String].collect().toSeq shouldBe Seq("Hallo Welt")
  }

  it should "evaluate DATATYPE with langString/typed/plain distinctions" in {
    Sparql.select(typedQuads,
      """SELECT ?dt WHERE {
        |  ?x <score> ?v . BIND(DATATYPE(?v) AS ?dt) FILTER(?v < 10)
        |}""".stripMargin)
      .as[String].collect().toSeq shouldBe
      Seq("http://www.w3.org/2001/XMLSchema#decimal")
    Sparql.select(typedQuads,
      """SELECT ?dt WHERE {
        |  ?x <label> ?l . FILTER(LANG(?l) = "en") BIND(DATATYPE(?l) AS ?dt)
        |}""".stripMargin)
      .as[String].collect().toSeq shouldBe
      Seq("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")
    Sparql.select(typedQuads,
      """SELECT ?dt WHERE {
        |  ?x <label> ?l . FILTER(LANG(?l) = "") BIND(DATATYPE(?l) AS ?dt)
        |}""".stripMargin)
      .as[String].collect().toSeq shouldBe
      Seq("http://www.w3.org/2001/XMLSchema#string")
  }

  it should "evaluate IF and COALESCE (incl. OPTIONAL-unbound)" in {
    Sparql.select(quads,
      """SELECT ?x (IF(?a >= 18, "adult", "minor") AS ?cls) WHERE {
        |  ?x <age> ?a
        |} ORDER BY ?x""".stripMargin)
      .as[(String, String)].collect().toSeq shouldBe
      Seq(("alice", "adult"), ("bob", "minor"))
    Sparql.select(quads,
      """SELECT ?x (COALESCE(?y, "nobody") AS ?friend) WHERE {
        |  ?x <name> ?n . OPTIONAL { ?x <knows> ?y }
        |} ORDER BY ?x""".stripMargin)
      .as[(String, String)].collect().toSeq shouldBe
      Seq(("alice", "bob"), ("bob", "nobody"), ("carol", "nobody"))
  }

  it should "evaluate isIRI/isLiteral from the object's stored kind" in {
    Sparql.select(typedQuads,
      """SELECT ?o WHERE { ?x ?p ?o . FILTER(isIRI(?o)) }""")
      .as[String].collect().toSeq shouldBe Seq("d2")
    Sparql.select(typedQuads,
      """SELECT ?o WHERE { <d2> ?p ?o . FILTER(isLiteral(?o)) }""")
      .as[String].collect().toSeq shouldBe Seq("41")
  }

  /** u:a -p-> u:b (an IRI without a minted scheme) -p-> a literal, and a
    * blank-node subject. */
  private lazy val kindQuads = Seq(
    ("u:a", "u:p", "u:b", Quad.IRI, null: String, null: String, "g"),
    ("u:b", "u:p", "mailto:x@y.example", Quad.LITERAL, null: String, null: String, "g"),
    ("_:b1", "u:p", "v", Quad.LITERAL, null: String, null: String, "g"))
    .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")

  it should "evaluate isBlank/isIRI/isLiteral wherever a variable is bound" in {
    Sparql.select(kindQuads, "SELECT ?s WHERE { ?s <u:p> ?o . FILTER(isBlank(?s)) }")
      .as[String].collect().toSeq shouldBe Seq("_:b1")
    Sparql.select(kindQuads, "SELECT ?b WHERE { <u:a> <u:p>+ ?b . FILTER(isIRI(?b)) }")
      .as[String].collect().toSeq shouldBe Seq("u:b")
    Sparql.select(kindQuads,
      """SELECT ?y WHERE { <u:b> <u:p> ?o . BIND(?o AS ?y) FILTER(isLiteral(?y)) }""")
      .as[String].collect().toSeq shouldBe Seq("mailto:x@y.example")
  }

  "FILTER EXISTS without shared variables" should "act as a scalar emptiness test" in {
    // carol (g2) shares no variable with the probe on <knows>
    Sparql.select(quads,
      """SELECT ?x WHERE { GRAPH <g2> { ?x <name> ?n }
        |  FILTER EXISTS { ?a <knows> ?b } }""".stripMargin)
      .as[String].collect().toSeq shouldBe Seq("carol") // probe non-empty: all survive
    Sparql.select(quads,
      """SELECT ?x WHERE { GRAPH <g2> { ?x <name> ?n }
        |  FILTER EXISTS { ?a <hates> ?b } }""".stripMargin)
      .count() shouldBe 0 // probe empty: none survive
    Sparql.select(quads,
      """SELECT ?x WHERE { GRAPH <g2> { ?x <name> ?n }
        |  FILTER NOT EXISTS { ?a <hates> ?b } }""".stripMargin)
      .as[String].collect().toSeq shouldBe Seq("carol")
  }

  "nested property paths" should "close over grouped sequences and invert groups" in {
    // two parallel two-step relations: a -p-> m -q-> b -p-> n -q-> c
    val chain = Seq(
      ("a", "p", "m"), ("m", "q", "b"), ("b", "p", "n"), ("n", "q", "c"))
      .map { case (s, p, o) => (s, p, o, 2.toByte, null: String, null: String, "g") }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    def q(path: String, from: String = "<a>") = Sparql.select(chain,
      s"SELECT ?y WHERE { $from $path ?y }").as[String].collect().toSet
    // (p/q)+ : one or more COMPOSED hops — a->b, a->c
    q("(<p>/<q>)+") shouldBe Set("b", "c")
    // (p/q)* adds the zero-length identity
    q("(<p>/<q>)*") shouldBe Set("a", "b", "c")
    // (p/q){2} : exactly two composed hops
    q("(<p>/<q>){2}") shouldBe Set("c")
    // ^(p/q) : inverse of the composed relation — from b back to a
    q("^(<p>/<q>)", from = "<b>") shouldBe Set("a")
    // alternation of sequences: (p/q)|p reaches both m (one p hop) and b
    q("((<p>/<q>)|<p>)") shouldBe Set("b", "m")
    // group under ? : optional composed hop
    q("(<p>/<q>)?") shouldBe Set("a", "b")
  }

  it should "answer the reference guard shape (a closure step, then a link)" in {
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <knows>*/<name> ?n . FILTER(?n = "Bob") }""")
      .as[String].collect().toSet shouldBe Set("alice", "bob")
  }

  it should "bind a path whose two ends are the same variable" in {
    val cycle = Seq(("a", "p", "b"), ("b", "p", "a"), ("b", "p", "c"))
      .map { case (s, p, o) => (s, p, o, 2.toByte, null: String, null: String, "g") }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    Sparql.select(cycle, "SELECT ?x WHERE { ?x <p>+ ?x }")
      .as[String].collect().sorted.toSeq shouldBe Seq("a", "b")
  }

  it should "keep bag semantics for | / ^ !(…) and set semantics for * + ? {n,m}" in {
    // two p-routes from a to c, and a q edge parallel to a -p-> b
    val diamond = Seq(("a", "p", "b"), ("a", "p", "d"), ("b", "p", "c"),
        ("d", "p", "c"), ("a", "q", "b"))
      .map { case (s, p, o) => (s, p, o, 2.toByte, null: String, null: String, "g") }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    def rows(path: String): Long =
      Sparql.select(diamond, s"SELECT ?x ?y WHERE { ?x $path ?y }").count()
    // SPARQL 1.1 §18.4: a sequence is a join, an alternative a union
    rows("<p>/<p>") shouldBe 2 // (a, c) once per route
    rows("((<p>/<p>)|(<p>/<p>))") shouldBe 4 // twice the rows of <p>/<p>
    rows("(<p>|<q>)") shouldBe 5 // (a, b) through p and through q
    rows("((<p>|<q>)|<q>)") shouldBe 6
    rows("^<p>") shouldBe 4
    rows("^(<p>/<p>)") shouldBe 2
    rows("!(<r>)") shouldBe 5 // (a, b) under two predicates
    rows("(!(<r>)|<q>)") shouldBe 6
    // closures and ranges are sets of pairs
    rows("(<p>|<q>)+") shouldBe 5 // (a,b) (a,d) (b,c) (d,c) (a,c)
    rows("(<p>|<q>){1,2}") shouldBe 5
    rows("(<p>|<q>)*") shouldBe 9 // the five above and four zero-length pairs
    rows("(<p>/<p>)?") shouldBe 5 // (a, c) once, and four zero-length pairs
  }

  "path quantifiers" should "expand {n}, {n,m} and {n,} structurally" in {
    val chain = Seq( // a -> b -> c -> d
      ("a", "next", "b"), ("b", "next", "c"), ("c", "next", "d"))
      .map { case (s, p, o) => (s, p, o, 2.toByte, null: String, null: String, "g") }
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    def q(path: String) = Sparql.select(chain,
      s"SELECT ?y WHERE { <a> $path ?y }").as[String].collect().toSet
    q("<next>{2}") shouldBe Set("c")
    q("<next>{1,2}") shouldBe Set("b", "c")
    q("<next>{2,}") shouldBe Set("c", "d")
    q("<next>{1,3}") shouldBe Set("b", "c", "d")
  }

  "HAVING with DISTINCT" should "count distinct values, not rows" in {
    // a1 has 3 distinct predicates over 4 rows (two recipient edges in
    // agentQuads would double-count without DISTINCT)
    val res = Sparql.select(quads,
      """SELECT ?x (COUNT(?v) AS ?n) WHERE { ?x ?p ?v }
        |GROUP BY ?x HAVING (COUNT(DISTINCT ?p) >= 3)""".stripMargin)
      .as[(String, Long)].collect().toSet
    res shouldBe Set(("alice", 3L))
  }

  "VALUES" should "treat UNDEF as a per-row wildcard (SPARQL 1.1 §10.2)" in {
    // (alice, UNDEF) matches any name of alice; (UNDEF, "Carol") matches
    // whoever has that name in any graph
    val res = Sparql.select(quads,
      """SELECT ?x ?n WHERE {
        |  ?x <name> ?n . VALUES (?x ?n) { (<alice> UNDEF) (UNDEF "Carol") }
        |} ORDER BY ?x""".stripMargin)
      .as[(String, String)].collect().toSeq
    res shouldBe Seq(("alice", "Alice"), ("carol", "Carol"))
    // UNDEF on a variable the group does NOT bind stays unbound (null)
    val free = Sparql.select(quads,
      """SELECT ?x ?tag WHERE {
        |  ?x <name> ?n . VALUES (?x ?tag) { (<alice> "seen") (<bob> UNDEF) }
        |} ORDER BY ?x""".stripMargin)
      .collect().map(r => (r.getString(0), Option(r.getString(1)))).toSeq
    free shouldBe Seq(("alice", Some("seen")), ("bob", None))
  }

  // --------------------- round-6: graph management, sequences, AVG(DISTINCT)

  "graph management updates" should "CLEAR a named graph" in {
    val s1 = Sparql.update(quads, "CLEAR GRAPH <g2>")
    s1.filter("g = 'g2'").count() shouldBe 0
    s1.count() shouldBe quads.count() - 1
    // SILENT on an absent graph is a no-op, not an error
    Sparql.update(quads, "CLEAR SILENT GRAPH <nope>").count() shouldBe quads.count()
  }

  it should "CLEAR DEFAULT, NAMED and ALL with user-graph as default" in {
    val withUser = Sparql.update(quads,
      """INSERT DATA { <dave> <name> "Dave" }""") // lands in graft:user
    Sparql.update(withUser, "CLEAR DEFAULT").filter("g = 'graft:user'")
      .count() shouldBe 0
    val namedCleared = Sparql.update(withUser, "CLEAR NAMED")
    namedCleared.count() shouldBe 1
    namedCleared.select("g").as[String].collect().toSeq shouldBe Seq("graft:user")
    Sparql.update(withUser, "DROP ALL").count() shouldBe 0
  }

  it should "treat CREATE GRAPH as a catalog no-op" in {
    Sparql.update(quads, "CREATE GRAPH <g9>").count() shouldBe quads.count()
  }

  it should "ADD a graph into another, leaving the source intact" in {
    val s = Sparql.update(quads, "ADD GRAPH <g2> TO GRAPH <g1>")
    s.filter("g = 'g2'").count() shouldBe 1 // source untouched
    s.filter("g = 'g1' and s = 'carol'").count() shouldBe 1 // landed in dst
    s.filter("g = 'g1'").count() shouldBe 6
    // re-ADD is idempotent (set semantics)
    Sparql.update(s, "ADD GRAPH <g2> TO GRAPH <g1>").count() shouldBe s.count()
  }

  it should "COPY a graph over another (destination overwritten)" in {
    val s = Sparql.update(quads, "COPY GRAPH <g2> TO GRAPH <g1>")
    s.filter("g = 'g1'").select("s", "p", "o").as[(String, String, String)]
      .collect().toSeq shouldBe Seq(("carol", "name", "Carol"))
    s.filter("g = 'g2'").count() shouldBe 1 // source intact
    // DEFAULT names the user graph on either side
    val viaDefault = Sparql.update(quads, "COPY GRAPH <g2> TO DEFAULT")
    viaDefault.filter("g = 'graft:user' and s = 'carol'").count() shouldBe 1
  }

  it should "MOVE a graph (destination overwritten, source cleared)" in {
    val s = Sparql.update(quads, "MOVE SILENT GRAPH <g2> TO GRAPH <g1>")
    s.filter("g = 'g2'").count() shouldBe 0
    s.filter("g = 'g1'").select("s").as[String].collect().toSeq shouldBe Seq("carol")
    // same-graph MOVE is a spec'd no-op, not a clear
    Sparql.update(quads, "MOVE GRAPH <g2> TO GRAPH <g2>").count() shouldBe quads.count()
  }

  it should "LOAD an N-Triples document, defaulting the graph to the doc IRI" in {
    val dir = java.nio.file.Files.createTempDirectory("graft-load")
    val f = dir.resolve("doc.nt")
    java.nio.file.Files.writeString(f,
      "<erin> <name> \"Erin\" .\n<erin> <knows> <alice> .\n")
    val loaded = Sparql.update(quads, s"LOAD <file://$f>")
    loaded.count() shouldBe quads.count() + 2
    loaded.filter(s"g = 'file://$f'").count() shouldBe 2
    val into = Sparql.update(quads, s"LOAD <file://$f> INTO GRAPH <g7>")
    into.filter("g = 'g7'").count() shouldBe 2
    // .ttl documents dispatch to the Turtle reader
    val ttl = dir.resolve("doc.ttl")
    java.nio.file.Files.writeString(ttl,
      "@prefix ex: <http://ex.org/> .\nex:erin ex:name \"Erin\" ; ex:age 31 .\n")
    val loadedTtl = Sparql.update(quads, s"LOAD <file://$ttl> INTO GRAPH <g8>")
    loadedTtl.filter("g = 'g8'").count() shouldBe 2
    loadedTtl.filter("g = 'g8' AND o = '31'").count() shouldBe 1
  }

  it should "sequence ;-separated operations against a running snapshot" in {
    // the second op's WHERE must see the first op's insert
    val s1 = Sparql.update(quads,
      """INSERT DATA { <dave> <name> "Dave" } ;
        |DELETE { ?x <name> ?n } INSERT { ?x <nick> ?n } WHERE {
        |  ?x <name> ?n . FILTER(?n = "Dave")
        |}""".stripMargin)
    s1.filter("p = 'nick'").count() shouldBe 1
    s1.filter("o = 'Dave' AND p = 'name'").count() shouldBe 0
    // CLEAR GRAPH then re-INSERT into it nets out to the replacement rows
    val s2 = Sparql.update(quads,
      """CLEAR GRAPH <g2> ;
        |INSERT DATA { GRAPH <g2> { <carla> <name> "Carla" } }""".stripMargin)
    s2.filter("g = 'g2'").select("s").as[String].collect().toSeq shouldBe Seq("carla")
  }

  it should "support INSERT-only WHERE forms and GRAPH scoping in update WHERE" in {
    val s1 = Sparql.update(quads,
      """INSERT { ?x <greeting> "hi" } WHERE { GRAPH <g2> { ?x <name> ?n } }""")
    s1.filter("p = 'greeting'").select("s").as[String].collect().toSeq shouldBe
      Seq("carol")
  }

  "FROM / FROM NAMED" should "restrict the dataset per SPARQL 1.1 13.2" in {
    // FROM <g2>: default graph is exactly g2 — alice/bob (g1) disappear
    Sparql.select(quads,
      "SELECT ?x FROM <g2> WHERE { ?x <name> ?n }")
      .as[String].collect().toSeq shouldBe Seq("carol")
    // FROM merges multiple graphs
    Sparql.select(quads,
      "SELECT ?x FROM <g1> FROM <g2> WHERE { ?x <name> ?n } ORDER BY ?x")
      .as[String].collect().toSeq shouldBe Seq("alice", "bob", "carol")
    // with dataset clauses present, GRAPH sees ONLY the FROM NAMED set
    Sparql.select(quads,
      "SELECT ?x FROM NAMED <g2> WHERE { GRAPH <g2> { ?x <name> ?n } }")
      .as[String].collect().toSeq shouldBe Seq("carol")
    Sparql.select(quads,
      "SELECT ?x FROM NAMED <g2> WHERE { GRAPH <g1> { ?x <name> ?n } }")
      .count() shouldBe 0
    // FROM only -> named-graph set empty -> GRAPH matches nothing
    Sparql.select(quads,
      "SELECT ?x FROM <g1> WHERE { GRAPH <g2> { ?x <name> ?n } }")
      .count() shouldBe 0
    // FROM NAMED only -> default graph empty
    Sparql.select(quads,
      "SELECT ?x FROM NAMED <g2> WHERE { ?x <name> ?n }")
      .count() shouldBe 0
  }

  it should "apply dataset clauses to ASK, CONSTRUCT and DESCRIBE" in {
    Sparql.ask(quads, "ASK FROM <g2> { ?x <name> ?n }") shouldBe true
    Sparql.ask(quads, "ASK FROM <g2> { ?x <age> ?a }") shouldBe false
    Sparql.construct(quads,
      "CONSTRUCT { ?x <labeled> ?n } FROM <g2> WHERE { ?x <name> ?n }")
      .select("s").as[String].collect().toSeq shouldBe Seq("carol")
    Sparql.describe(quads, "DESCRIBE <alice> FROM <g2>").count() shouldBe 0
    Sparql.describe(quads, "DESCRIBE <carol> FROM <g2>").count() shouldBe 1
  }

  "round-6 builtins" should "hash, encode and test terms per SPARQL 17.4" in {
    Sparql.select(quads,
      """SELECT (MD5("abc") AS ?h) WHERE { <alice> <name> ?n }""")
      .as[String].head() shouldBe "900150983cd24fb0d6963f7d28e17f72"
    Sparql.select(quads,
      """SELECT (SHA1("abc") AS ?h) WHERE { <alice> <name> ?n }""")
      .as[String].head() shouldBe "a9993e364706816aba3e25717850c26c9cd0d89d"
    // ENCODE_FOR_URI percent-encodes with %20 for space (not '+')
    Sparql.select(quads,
      """SELECT (ENCODE_FOR_URI("a b/c") AS ?e) WHERE { <alice> <name> ?n }""")
      .as[String].head() shouldBe "a%20b%2Fc"
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <age> ?a . FILTER(isNumeric(?a) && !isNumeric(?x)) }""")
      .as[String].collect().toSet shouldBe Set("alice", "bob")
    Sparql.select(quads,
      """SELECT ?x WHERE { ?x <name> ?n . FILTER(sameTerm(?n, "Alice")) }""")
      .as[String].collect().toSeq shouldBe Seq("alice")
    // IRI() constructs from a string expression
    Sparql.select(quads,
      """SELECT (IRI(CONCAT("http://ex.org/", ?x)) AS ?u) WHERE {
        |  ?x <name> "Alice" }""".stripMargin)
      .as[String].head() shouldBe "http://ex.org/alice"
  }

  it should "expose dateTime accessors over lexical timestamps" in {
    val dated = Seq(
      ("e1", "at", "2024-03-09T14:30:05Z", 2.toByte, Quad.Xsd.dateTime, null: String, "g"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    Sparql.select(dated,
      """SELECT (YEAR(?t) AS ?y) (MONTH(?t) AS ?m) (DAY(?t) AS ?d)
        |  (HOURS(?t) AS ?h) (MINUTES(?t) AS ?mi) (TZ(?t) AS ?tz)
        |WHERE { ?e <at> ?t }""".stripMargin)
      .as[(Int, Int, Int, Int, Int, String)].head() shouldBe
      (2024, 3, 9, 14, 30, "Z")
  }

  it should "construct typed literals with STRLANG/STRDT whose metadata flows" in {
    val res = Sparql.select(quads,
      """SELECT ?n ?l ?d WHERE {
        |  ?x <name> "Alice" .
        |  BIND(STRLANG("hello", "en") AS ?g)
        |  BIND(LANG(?g) AS ?l)
        |  BIND(STRDT("42", <http://www.w3.org/2001/XMLSchema#integer>) AS ?t)
        |  BIND(DATATYPE(?t) AS ?d)
        |  BIND(STR(?g) AS ?n)
        |}""".stripMargin).as[(String, String, String)].head()
    res shouldBe (("hello", "en", "http://www.w3.org/2001/XMLSchema#integer"))
  }

  "AVG(DISTINCT)" should "average the distinct value set" in {
    val dup = Seq(
      quad("x", "score", "10"), quad("x", "score", "10"),
      quad("x", "score", "30"), quad("y", "score", "5"))
      .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g")
    val res = Sparql.select(dup,
      """SELECT ?s (AVG(DISTINCT ?v) AS ?m) WHERE { ?s <score> ?v }
        |GROUP BY ?s ORDER BY ?s""".stripMargin)
      .as[(String, Double)].collect().toSeq
    res shouldBe Seq(("x", 20.0), ("y", 5.0)) // plain AVG would give x 16.67
  }
}

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

/** SPARQL/RDF surface: BGP, OPTIONAL/UNION, property paths, UPDATE, CONSTRUCT/DESCRIBE, graph management and round-trips.
  *
  * One of the per-package query registries aggregated by
  * [[graft.SparkEntry]] — split out of the former 6k-LoC single object
  * so each registry compiles to a bounded class (static-init and
  * JIT/class-loading pressure were the bench's named suspect).
  * Query semantics, ids and oracle SQL are unchanged by the split.
  */
private[graft] object RdfQueries {

  /** Q1/Q2: BGP chain over the quad view — customer name + nation name via
    * a 3-pattern join (the AgentMatchEnricher query shape). */
  private def q31_bgp(s: SparkSession, dir: String): DataFrame = {
    val quads = TpchQuads.quads(s, dir)
    Bgp.bgp(quads,
        Pattern("?c", "name", "?cname"),
        Pattern("?c", "nation", "?nat"),
        Pattern("?nat", "name", "?nname"))
      .select(col("c"), col("cname"), col("nname"))
  }

  /** Q3: OPTIONAL — all customers, left-joined to their orders; count
    * matched orders per customer (nulls count 0). */
  private def q32_optional(s: SparkSession, dir: String): DataFrame = {
    val quads = TpchQuads.quads(s, dir)
    val custs = Bgp.bgp(quads, Pattern("?c", "name", "?cname", g = Some("customer")))
    Bgp.optional(custs, quads, Pattern("?o", "cust", "?c"), Pattern("?o", "status", "F"))
      .groupBy(col("c"), col("cname"))
      .agg(count(col("o")).as("n_f_orders"))
  }

  /** Q11: GRAPH scoping — count statements per named graph. */
  private def q33_graph_count(s: SparkSession, dir: String): DataFrame =
    TpchQuads.quads(s, dir).groupBy(col("g")).agg(count(lit(1)).as("n"))

  /** W6/T2: replace-graph diff — old customer graph vs a new version where
    * customers of nations 0-11 changed segment case; added/removed tagged. */
  private def q34_store_diff(s: SparkSession, dir: String): DataFrame = {
    val old = TpchQuads.quads(s, dir)
    val cust = t(s, dir, "customer")
    val newSeg = cust.select(
      concat(lit("c:"), col("c_custkey").cast("string")).as("s"),
      lit("segment").as("p"),
      when(col("c_nationkey") < 12, lower(col("c_mktsegment")))
        .otherwise(col("c_mktsegment")).as("o"),
      lit(graft.rdf.Quad.LITERAL).as("oKind"),
      lit(null).cast("string").as("oDt"),
      lit(null).cast("string").as("oLang"),
      lit("customer").as("g"))
    val newGraph = old.where(col("g") === "customer" && col("p") =!= "segment")
      .unionByName(newSeg)
    val d = QuadStore.replaceGraphDiff(old, newGraph, "customer")
    d.added.select(col("s"), col("p"), col("o"), lit("added").as("op"))
      .union(d.removed.select(col("s"), col("p"), col("o"), lit("removed").as("op")))
  }

  /** J5: negation guard — inserting name quads is suppressed where a
    * negation statement exists (here: customers with custkey % 10 = 0). */
  private def q35_negation_guard(s: SparkSession, dir: String): DataFrame = {
    val quads = TpchQuads.quads(s, dir)
    val toAdd = quads.where(col("g") === "customer" && col("p") === "name")
    val negations = toAdd.where(expr("CAST(substr(s, 3) AS BIGINT) % 10 = 0"))
      .select(col("s"), col("p"), col("o"))
    QuadStore.guardAgainstNegations(toAdd, negations).select(col("s"), col("o"))
  }

  /** A5: primary-facet election — per nation, the customer with the most
    * orders (argmax via row_number; deterministic custkey tiebreak). */
  private def q36_primary_facet(s: SparkSession, dir: String): DataFrame = {
    val quads = TpchQuads.quads(s, dir)
    val counts = Bgp.bgp(quads,
        Pattern("?o", "cust", "?c"),
        Pattern("?c", "nation", "?nat"))
      .groupBy(col("nat"), col("c"))
      .agg(count(lit(1)).as("n_orders"))
    val w = Window.partitionBy(col("nat")).orderBy(col("n_orders").desc, col("c"))
    counts.withColumn("rk", row_number().over(w)).where(col("rk") === 1)
      .select(col("nat"), col("c").as("primary_c"), col("n_orders"))
  }

  /** Q4 over quads: UNION of two binding sets with var padding. */
  private def q37_bgp_union(s: SparkSession, dir: String): DataFrame = {
    val quads = TpchQuads.quads(s, dir)
    val f = Bgp.bgp(quads, Pattern("?o", "status", "F"), Pattern("?o", "cust", "?c"))
    val p = Bgp.bgp(quads, Pattern("?o", "priority", "1-URGENT"))
    Bgp.union(f, p).groupBy(col("c")).agg(count(lit(1)).as("n"))
  }

  /** The SPARQL front end end-to-end: parsed text → BGP plan → Catalyst.
    * Same semantics as q31, stated in SPARQL. */
  private def q57_sparql(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?c ?cname ?nname WHERE {
        |  GRAPH <customer> { ?c <name> ?cname . ?c <nation> ?nat }
        |  GRAPH <nation> { ?nat <name> ?nname }
        |}""".stripMargin)

  /** SPARQL front end, aggregate form (the AgentMatchEnricher message-count
    * shape, `AgentMatchEnricher.scala:101-112`): GROUP BY + COUNT over an
    * OPTIONAL-UNION group, parsed from SPARQL text and compiled onto the
    * aggregate builders. COUNT skips unbound (OPTIONAL-null) bindings. */
  private def q67_sparql_agg(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?c ?cname (COUNT(?o) AS ?n_orders) WHERE {
        |  GRAPH <customer> { ?c <name> ?cname . }
        |  OPTIONAL {
        |    { ?o <cust> ?c . ?o <status> "F" } UNION { ?o <cust> ?c . ?o <status> "O" }
        |  }
        |} GROUP BY ?c ?cname""".stripMargin)

  /** SPARQL front end, property-path + sub-SELECT form (the
    * PrimaryFacetEnricher shape, `PrimaryFacetEnricher.scala:18-28`):
    * `succ*` reflexive-transitive closure inside a sub-select, outer
    * GROUP BY + COUNT. The succ chain links each nation to the next key in
    * its region, so the closure into n:24 is exactly the same-region
    * nations with key <= 24 — SQL-stateable without recursion. */
  private def q68_sparql_path(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))
    val succ = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
      .withColumn("nxt", lead(col("n_nationkey"), 1).over(w))
      .where(col("nxt").isNotNull)
      .select(
        concat(lit("n:"), col("n_nationkey").cast("string")).as("s"),
        lit("succ").as("p"),
        concat(lit("n:"), col("nxt").cast("string")).as("o"),
        lit(graft.rdf.Quad.IRI).as("oKind"),
        lit(null).cast("string").as("oDt"),
        lit(null).cast("string").as("oLang"),
        lit("succ").as("g"))
    val quads = TpchQuads.quads(s, dir).unionByName(succ)
    graft.rdf.Sparql.select(quads,
      """SELECT ?n (COUNT(?c) AS ?ncust) WHERE {
        |  {
        |    SELECT ?n ?start {
        |      ?n <succ>* ?start .
        |    }
        |  }
        |  VALUES ?start { <n:24> }
        |  ?c <nation> ?n .
        |} GROUP BY ?n""".stripMargin)
  }

  /** SPARQL CONSTRUCT end-to-end: template instantiation over a BGP join,
    * the reference's GraphQuery front-door path
    * (`core/src/main/com/thymeflow/api/SparqlService.scala:107-112`). */
  private def q72_construct(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.construct(TpchQuads.quads(s, dir),
      """CONSTRUCT { ?c <inNation> ?nname } WHERE {
        |  ?c <nation> ?n . ?n <name> ?nname
        |}""".stripMargin)
      .select(col("s"), col("p"), col("o"))

  /** FILTER NOT EXISTS + inverse path — the reference guard's negation
    * shape (`AbstractEnricher.scala:17-23`): customers with no finished
    * order pointing at them, stated with `^<cust>`. */
  private def q73_not_exists(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?c ?cname WHERE {
        |  GRAPH <customer> { ?c <name> ?cname }
        |  FILTER NOT EXISTS { ?c ^<cust> ?ord . ?ord <status> "F" }
        |}""".stripMargin)

  /** Negated property set: every customer edge that is neither the name
    * nor the segment — exactly the nation edges. */
  private def q74_neg_prop(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?c ?o WHERE { GRAPH <customer> { ?c !(<name>|<segment>) ?o } }""")

  /** SPARQL UPDATE text end-to-end: DELETE/INSERT WHERE parsed, evaluated
    * to a QuadDiff, applied via QuadStore.applyDiff (the reference's
    * prepareUpdate→execute, `SparqlService.scala:144-158`); inserts land
    * in the user graph per the write-back routing. */
  private def q75_sparql_update(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.update(TpchQuads.quads(s, dir),
      """DELETE { ?c <segment> ?seg } INSERT { ?c <bucket> ?seg } WHERE {
        |  ?c <segment> ?seg . FILTER(?seg = "BUILDING")
        |}""".stripMargin)
      .where(col("p").isin("segment", "bucket"))
      .select(col("s"), col("p"), col("o"), col("g"))

  /** Property alternation + PREFIX through the SPARQL front end: every
    * order edge that is a status or a priority, one path pattern. */
  private def q81_alternation(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?o ?v WHERE {
        |  GRAPH <orders> { ?o (<status>|<priority>) ?v }
        |}""".stripMargin)

  /** SPARQL DESCRIBE through the front end: symmetric concise
    * description (subject rows + incoming IRI links) of every nation a
    * BUILDING-segment customer points at. */
  private def q83_describe(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.describe(TpchQuads.quads(s, dir),
      """DESCRIBE ?n WHERE { ?c <segment> "BUILDING" . ?c <nation> ?n }""")
      .select(col("s"), col("p"), col("o"), col("g"))

  /** GROUP_CONCAT through the SPARQL front end: nation names per region,
    * deterministic (sorted) concatenation. */
  private def q87_group_concat(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?r (GROUP_CONCAT(?n; SEPARATOR="|") AS ?nations) WHERE {
        |  GRAPH <nation> { ?x <region> ?r . ?x <name> ?n }
        |} GROUP BY ?r""".stripMargin)

  /** HAVING + multi-key ORDER BY through the SPARQL front end: nations
    * with at least 60 customers, most-populated first. */
  private def q89_having(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?nat (COUNT(?c) AS ?n) WHERE {
        |  GRAPH <customer> { ?c <nation> ?nat }
        |} GROUP BY ?nat HAVING (COUNT(?c) >= 60)
        |ORDER BY DESC(COUNT(?c)) ?nat""".stripMargin)

  /** SPARQL expression surface end-to-end: language-tagged labels
    * (customer names, @en when custkey % 3 = 0, @fr otherwise), a
    * LANGMATCHES/LANG filter, and expression projections with STRLEN,
    * STRAFTER, arithmetic, FLOOR and IF — the §17.4 builtin remainder an
    * endpoint user hits first. */
  private def q90_sparql_expr(s: SparkSession, dir: String): DataFrame = {
    val labels = t(s, dir, "customer").select(
      concat(lit("c:"), col("c_custkey").cast("string")).as("s"),
      lit("label").as("p"),
      col("c_name").as("o"),
      lit(graft.rdf.Quad.LITERAL).as("oKind"),
      lit(null).cast("string").as("oDt"),
      when(col("c_custkey") % 3 === 0, "en").otherwise("fr").as("oLang"),
      lit("labels").as("g"))
    val quads = TpchQuads.quads(s, dir).unionByName(labels)
    graft.rdf.Sparql.select(quads,
      """SELECT ?c (STRLEN(?n) AS ?len) (STRAFTER(?c, ":") AS ?num)
        |  (IF(STRAFTER(?c, ":") / 2 - FLOOR(STRAFTER(?c, ":") / 2) = 0,
        |      "even", "odd") AS ?parity)
        |WHERE {
        |  GRAPH <labels> { ?c <label> ?n }
        |  FILTER(LANGMATCHES(LANG(?n), "en") && STRLEN(?n) + 2 > 10)
        |}""".stripMargin)
  }

  /** `{n,m}` path range quantifiers through the front end: nations within
    * 1..3 `succ` hops (the per-region key chain from q68), one join per
    * hop level. */
  private def q91_path_quant(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("n_regionkey")).orderBy(col("n_nationkey"))
    val succ = t(s, dir, "nation")
      .select(col("n_nationkey"), col("n_regionkey"))
      .withColumn("nxt", lead(col("n_nationkey"), 1).over(w))
      .where(col("nxt").isNotNull)
      .select(
        concat(lit("n:"), col("n_nationkey").cast("string")).as("s"),
        lit("succ").as("p"),
        concat(lit("n:"), col("nxt").cast("string")).as("o"),
        lit(graft.rdf.Quad.IRI).as("oKind"),
        lit(null).cast("string").as("oDt"),
        lit(null).cast("string").as("oLang"),
        lit("succ").as("g"))
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir).unionByName(succ),
      """SELECT ?n ?m WHERE { GRAPH <succ> { ?n <succ>{1,3} ?m } }""")
  }

  /** Graph-management SPARQL UPDATE end-to-end (Q15 extension, round 6):
    * a `;`-sequenced request CLEARs the nation graph then re-INSERTs a
    * replacement row into it — the parser's graph-management ops
    * (CLEAR/DROP/CREATE/LOAD, `Sparql.singleUpdateDiff`) plus the
    * running-snapshot sequencing, net-diffed and applied. The oracle
    * states the surviving graphs closed-form. */
  private def q93_graph_mgmt(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.update(TpchQuads.quads(s, dir),
      """CLEAR GRAPH <nation> ;
        |INSERT DATA { GRAPH <nation> { <n:0> <name> "RENAMED" } } ;
        |ADD GRAPH <nation> TO GRAPH <scratch> ;
        |MOVE GRAPH <scratch> TO GRAPH <archive>""".stripMargin)
      .where(col("g").isin("nation", "customer", "scratch", "archive"))
      .select(col("s"), col("p"), col("o"), col("g"))

  /** Nested property path through the driver gate (round 6): a closure
    * over a GROUPED SEQUENCE — `(cust/nation)+` — exercises the
    * recursive path compiler (PathTriple -> pair-relation evaluator).
    * On this data the composed relation has no
    * chains, so the closure equals one composition and the oracle states
    * the join closed-form. */
  private def q97_nested_path(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      "SELECT ?o ?n WHERE { ?o (<cust>/<nation>)+ ?n }")

  /** S10 end-to-end: chain EVERY serializer/parser pair — TriG → Turtle →
    * JSON-LD → RDF/XML — over real table-derived quads, per partition,
    * inside the distributed query; the oracle is the IDENTITY on the
    * source table, so any escaping, typing, or lang-tag bug in any of the
    * four round-trip legs lands as a red hash every round (this family is
    * where the round-6 advisor found its only corruption bugs). Each
    * document contributes a plain literal (text decorated with one
    * instance of every escape-sensitive class: quote, backslash, CR, LF,
    * TAB, angle brackets, ampersand, non-ASCII — stripped
    * after the chain, so a broken escaper corrupts the value and fails
    * the compare), an xsd:long, and a language-tagged literal. Other C0
    * controls are excluded by construction: XML 1.0 has NO representation
    * for them (not even character references), so the RDF/XML writer
    * rejects them loudly rather than emit a document no parser accepts. */
  private def q98_rdf_roundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.rdf.Quad
    import graft.sources.{JsonLd, RdfXml, Turtle}
    val deco = "\"\\\r\n\t<>&é中 "
    val quads = t(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"), col("source"), col("lang"))
      .as[(Long, String, Long, String, String)]
      .mapPartitions(_.flatMap { case (id, text, nChars, src, lang) =>
        val su = s"urn:doc:$id"
        val g = "urn:g:docs"
        Seq(
          Quad(su, "urn:p:text", deco + text, Quad.LITERAL, null, null, g),
          Quad(su, "urn:p:chars", nChars.toString, Quad.LITERAL, Quad.Xsd.long, null, g),
          Quad(su, "urn:p:src", src, Quad.LITERAL, null, lang, g))
      })
    val back = quads.mapPartitions { it =>
      val in = it.toList
      if (in.isEmpty) Iterator.empty
      else {
        val g = "urn:g:docs"
        val a = Turtle.parse(Turtle.serializeTrig(in), g) // TriG keeps graphs
        val b = Turtle.parse(Turtle.serialize(a), g)
        val c = JsonLd.parse(JsonLd.serialize(b), g)
        RdfXml.parse(RdfXml.serialize(c), g).iterator
      }
    }
    back.toDF()
      .groupBy(substring(col("s"), 9, 19).cast("long").as("doc_id"))
      .agg(
        // strip the decoration ONLY when it survived intact — a corrupted
        // round-trip keeps the mangled value and fails the hash compare
        max(when(col("p") === "urn:p:text",
          when(col("o").startsWith(deco),
            col("o").substr(lit(deco.length + 1), lit(Int.MaxValue)))
            .otherwise(col("o")))).as("text"),
        max(when(col("p") === "urn:p:chars", col("o").cast("long"))).as("n_chars"),
        max(when(col("p") === "urn:p:src", col("o"))).as("source"),
        max(when(col("p") === "urn:p:src", col("oLang"))).as("lang"))
  }

  /** q204: SPARQL UPDATE with a VARIABLE GRAPH template position —
    * `INSERT { GRAPH ?g { … } }` binds the target graph per solution
    * (round-12 fix: the raw `?g` token used to become a literal graph
    * named "?g"). The store-kind join-back must classify the copied
    * segment literals as LITERAL (okind 2) and the nation IRIs the
    * second template copies as IRI (okind 0). */
  private def q204_update_graph_var(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.update(TpchQuads.quads(s, dir),
      """INSERT { GRAPH ?g { ?c <flag> ?seg . ?c <flagNation> ?n } }
        |WHERE { GRAPH ?g { ?c <segment> ?seg . ?c <nation> ?n } }""".stripMargin)
      .where(col("p").isin("flag", "flagNation"))
      .select(col("s"), col("p"), col("o"), col("g"),
        col("oKind").cast("int").as("okind"))

  /** q205: two GRAPH groups binding the SAME variable in object position
    * under an isLiteral guard — the round-12 metadata-join-key fix in the
    * gate. Both sub-groups project ?seg's (__kind/__dt/__lang) side
    * columns; pre-fix those joined as keys and the null datatype matched
    * nothing, so this exact shape returned EMPTY. */
  private def q205_graph_meta(s: SparkSession, dir: String): DataFrame =
    graft.rdf.Sparql.select(TpchQuads.quads(s, dir),
      """SELECT ?c1 ?c2 ?seg WHERE {
        |  GRAPH <customer> { ?c1 <segment> ?seg }
        |  GRAPH <customer> { ?c2 <segment> ?seg . ?c2 <nation> <n:0> }
        |  FILTER(isLiteral(?seg) && ?c1 != ?c2)
        |}""".stripMargin)

  private[graft] val queries: ListMap[String, (SparkSession, String) => DataFrame] = ListMap(
    "q31_bgp" -> (q31_bgp _),
    "q32_optional" -> (q32_optional _),
    "q33_graph_count" -> (q33_graph_count _),
    "q34_store_diff" -> (q34_store_diff _),
    "q35_negation_guard" -> (q35_negation_guard _),
    "q36_primary_facet" -> (q36_primary_facet _),
    "q37_bgp_union" -> (q37_bgp_union _),
    "q57_sparql" -> (q57_sparql _),
    "q67_sparql_agg" -> (q67_sparql_agg _),
    "q68_sparql_path" -> (q68_sparql_path _),
    "q72_construct" -> (q72_construct _),
    "q73_not_exists" -> (q73_not_exists _),
    "q74_neg_prop" -> (q74_neg_prop _),
    "q75_sparql_update" -> (q75_sparql_update _),
    "q81_alternation" -> (q81_alternation _),
    "q83_describe" -> (q83_describe _),
    "q87_group_concat" -> (q87_group_concat _),
    "q89_having" -> (q89_having _),
    "q90_sparql_expr" -> (q90_sparql_expr _),
    "q91_path_quant" -> (q91_path_quant _),
    "q93_graph_mgmt" -> (q93_graph_mgmt _),
    "q97_nested_path" -> (q97_nested_path _),
    "q98_rdf_roundtrip" -> (q98_rdf_roundtrip _),
    "q204_update_graph_var" -> (q204_update_graph_var _),
    "q205_graph_meta" -> (q205_graph_meta _))

  private[graft] val oracleSql: ListMap[String, String] = ListMap(
    "q31_bgp" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS cname, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q32_optional" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS cname,
        |  count(o_orderkey) AS n_f_orders
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND o_orderstatus = 'F'
        |GROUP BY 1, 2""".stripMargin,
    "q33_graph_count" ->
      """SELECT 'customer' AS g, 3 * count(*) AS n FROM customer
        |UNION ALL SELECT 'nation', 2 * count(*) FROM nation
        |UNION ALL SELECT 'orders', 3 * count(*) FROM orders""".stripMargin,
    "q34_store_diff" ->
      """SELECT 'c:' || c_custkey AS s, 'segment' AS p,
        |  lower(c_mktsegment) AS o, 'added' AS op
        |FROM customer WHERE c_nationkey < 12
        |UNION ALL
        |SELECT 'c:' || c_custkey, 'segment', c_mktsegment, 'removed'
        |FROM customer WHERE c_nationkey < 12""".stripMargin,
    "q35_negation_guard" ->
      """SELECT 'c:' || c_custkey AS s, c_name AS o FROM customer
        |WHERE c_custkey % 10 <> 0""".stripMargin,
    "q36_primary_facet" ->
      """SELECT nat, c AS primary_c, n_orders FROM (
        |  SELECT 'n:' || c_nationkey AS nat, 'c:' || c_custkey AS c,
        |    count(*) AS n_orders,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY count(*) DESC, 'c:' || c_custkey) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_nationkey, c_custkey
        |) WHERE rk = 1""".stripMargin,
    "q37_bgp_union" ->
      """SELECT c, count(*) AS n FROM (
        |  SELECT 'o:' || o_orderkey AS o, 'c:' || o_custkey AS c
        |  FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'o:' || o_orderkey, NULL FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |) GROUP BY c""".stripMargin,
    "q57_sparql" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS cname, n_name AS nname
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q67_sparql_agg" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS cname,
        |  (SELECT count(*) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus IN ('F', 'O'))
        |    AS n_orders
        |FROM customer c""".stripMargin,
    "q68_sparql_path" ->
      """SELECT 'n:' || n.n_nationkey AS n, count(*) AS ncust
        |FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |WHERE n.n_regionkey = (SELECT n_regionkey FROM nation WHERE n_nationkey = 24)
        |  AND n.n_nationkey <= 24
        |GROUP BY 1""".stripMargin,
    "q72_construct" ->
      """SELECT 'c:' || c_custkey AS s, 'inNation' AS p, n_name AS o
        |FROM customer JOIN nation ON c_nationkey = n_nationkey""".stripMargin,
    "q73_not_exists" ->
      """SELECT 'c:' || c_custkey AS c, c_name AS cname FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin,
    "q74_neg_prop" ->
      """SELECT 'c:' || c_custkey AS c, 'n:' || c_nationkey AS o FROM customer""".stripMargin,
    "q75_sparql_update" ->
      """SELECT 'c:' || c_custkey AS s, 'segment' AS p, c_mktsegment AS o,
        |  'customer' AS g
        |FROM customer WHERE c_mktsegment <> 'BUILDING'
        |UNION ALL
        |SELECT 'c:' || c_custkey, 'bucket', c_mktsegment, 'graft:user'
        |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "q81_alternation" ->
      """SELECT 'o:' || o_orderkey AS o, o_orderstatus AS v FROM orders
        |UNION ALL
        |SELECT 'o:' || o_orderkey, o_orderpriority FROM orders""".stripMargin,
    "q83_describe" ->
      // symmetric concise description of the target nations: their
      // subject rows (name, region) plus every incoming IRI link
      // (customer nation edges from ANY segment)
      """WITH res AS (
        |  SELECT DISTINCT 'n:' || c_nationkey AS r FROM customer
        |  WHERE c_mktsegment = 'BUILDING'
        |)
        |SELECT 'n:' || n_nationkey AS s, 'name' AS p, n_name AS o, 'nation' AS g
        |FROM nation JOIN res ON 'n:' || n_nationkey = r
        |UNION ALL
        |SELECT 'n:' || n_nationkey, 'region', 'r:' || n_regionkey, 'nation'
        |FROM nation JOIN res ON 'n:' || n_nationkey = r
        |UNION ALL
        |SELECT 'c:' || c_custkey, 'nation', 'n:' || c_nationkey, 'customer'
        |FROM customer JOIN res ON 'n:' || c_nationkey = r""".stripMargin,
    "q87_group_concat" ->
      """SELECT 'r:' || n_regionkey AS r,
        |  string_agg(n_name, '|' ORDER BY n_name) AS nations
        |FROM nation GROUP BY 1""".stripMargin,
    "q89_having" ->
      """SELECT 'n:' || c_nationkey AS nat, count(*) AS n
        |FROM customer GROUP BY 1 HAVING count(*) >= 60
        |ORDER BY n DESC, nat""".stripMargin,
    "q90_sparql_expr" ->
      """SELECT 'c:' || c_custkey AS c, CAST(length(c_name) AS INT) AS len,
        |  CAST(c_custkey AS VARCHAR) AS num,
        |  CASE WHEN c_custkey % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
        |FROM customer
        |WHERE c_custkey % 3 = 0 AND length(c_name) + 2 > 10""".stripMargin,
    "q91_path_quant" ->
      """WITH r AS (
        |  SELECT n_nationkey, n_regionkey,
        |    row_number() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS rk
        |  FROM nation
        |)
        |SELECT 'n:' || a.n_nationkey AS n, 'n:' || b.n_nationkey AS m
        |FROM r a JOIN r b ON a.n_regionkey = b.n_regionkey
        |  AND b.rk - a.rk BETWEEN 1 AND 3""".stripMargin,
    // q93: after CLEAR GRAPH <nation> ; INSERT, the only nation-graph row
    // is the inserted one; the customer graph is untouched. ADD copies
    // that row into <scratch> (source intact), MOVE relocates it to
    // <archive> leaving <scratch> empty — so the extra output is exactly
    // one archive row.
    "q93_graph_mgmt" ->
      """SELECT 'c:' || c_custkey AS s, 'name' AS p, c_name AS o,
        |  'customer' AS g FROM customer
        |UNION ALL
        |SELECT 'c:' || c_custkey, 'nation', 'n:' || c_nationkey, 'customer'
        |FROM customer
        |UNION ALL
        |SELECT 'c:' || c_custkey, 'segment', c_mktsegment, 'customer'
        |FROM customer
        |UNION ALL
        |SELECT 'n:0', 'name', 'RENAMED', 'nation'
        |UNION ALL
        |SELECT 'n:0', 'name', 'RENAMED', 'archive'""".stripMargin,
    "q97_nested_path" ->
      """SELECT 'o:' || o_orderkey AS o, 'n:' || c_nationkey AS n
        |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin,
    "q98_rdf_roundtrip" ->
      // the engine side is a four-format serialize→parse chain whose
      // composition must be the identity; the oracle states that identity
      "SELECT doc_id, text, n_chars, source, lang FROM documents",
    // q204: the variable-graph INSERT copies both statements of every
    // customer into the graph that held them (the customer graph)
    "q204_update_graph_var" ->
      """SELECT 'c:' || c_custkey AS s, 'flag' AS p, c_mktsegment AS o,
        |  'customer' AS g, 2 AS okind
        |FROM customer
        |UNION ALL
        |SELECT 'c:' || c_custkey, 'flagNation', 'n:' || c_nationkey,
        |  'customer', 0
        |FROM customer""".stripMargin,
    // q205: same-segment customer pairs with the right side in nation 0
    "q205_graph_meta" ->
      """SELECT 'c:' || a.c_custkey AS c1, 'c:' || b.c_custkey AS c2,
        |  a.c_mktsegment AS seg
        |FROM customer a JOIN customer b ON a.c_mktsegment = b.c_mktsegment
        |WHERE b.c_nationkey = 0 AND a.c_custkey <> b.c_custkey""".stripMargin
  )
}

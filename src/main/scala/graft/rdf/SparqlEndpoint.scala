package graft.rdf

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicReference

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import org.apache.spark.sql.{DataFrame, Row}
import scala.jdk.CollectionConverters._

/** SPARQL 1.1 Protocol endpoint over a quads DataFrame — the engine's
  * front door, mirroring the reference's akka-http service
  * (`core/src/main/com/thymeflow/api/SparqlService.scala:38-201`) on the
  * JDK's built-in HTTP server (zero dependencies).
  *
  * Queries: GET `/sparql?query=...` and POST with
  * `application/x-www-form-urlencoded` (`query=...`) or
  * `application/sparql-query` bodies; SELECT, ASK and CONSTRUCT forms.
  * SELECT results negotiate SPARQL JSON (default), XML
  * (`application/sparql-results+xml`), CSV (`text/csv`) or TSV
  * (`text/tab-separated-values`) via Accept — the reference resolves the
  * writer the same way (`SparqlService.scala:170-201`). JSON and XML
  * serve each binding's term (kind, datatype, language) as the query
  * carried it from its scan ([[Sparql.selectTerms]]), as the reference
  * serves RDF4J `Value`s. CONSTRUCT streams N-Quads lines. Malformed
  * queries → 400 with the parse error.
  *
  * Updates: POST with `update=...` form data or an
  * `application/sparql-update` body (`INSERT DATA` / `DELETE DATA` /
  * `DELETE/INSERT WHERE`) — parsed by [[Sparql.updateDiff]] and applied
  * to the served snapshot through [[QuadStore.applyDiff]], exactly the
  * reference's prepareUpdate→execute path
  * (`SparqlService.scala:144-158`); 200 with an empty body on success.
  *
  * Results STREAM: rows are serialized from `toLocalIterator` — one
  * partition in flight at a time, chunked transfer encoding, no driver
  * collect of the full result (the reference streams its result sets the
  * same way, `SparqlService.scala:140-170`).
  */
object SparqlEndpoint {

  /** One served store version. The store is committed on construction
    * ([[QuadStore.commit]]: materialized once, right-sized, planned from
    * its measured size), so every request on this version scans
    * in-memory blocks and Catalyst can broadcast a small store's BGP
    * joins; constructing a snapshot of an already committed version runs
    * no job. Updates swap in a fresh [[Snapshot]]. */
  final class Snapshot(store: DataFrame) {
    val quads: DataFrame = QuadStore.commit(store)

    /** Distinct term → kind (IRI=0 wins ties: a term standing as a
      * predicate is an IRI, as a subject an IRI or, by its `_:` label, a
      * blank node; object occurrences carry their stored kind). No
      * request reads it; the serve benchmark's trace times it. */
    lazy val termKinds: DataFrame = {
      import org.apache.spark.sql.functions._
      QuadStore.commit(
        quads.select(col("o").as("__term"), col("oKind").cast("byte").as("__k"))
          .unionByName(quads.select(col("s").as("__term"),
            when(col("s").startsWith("_:"), Quad.BNODE).otherwise(Quad.IRI)
              .cast("byte").as("__k")))
          .unionByName(quads.select(col("p").as("__term"),
            lit(Quad.IRI).cast("byte").as("__k")))
          .groupBy(col("__term")).agg(min(col("__k")).as("__k")))
    }
  }

  final case class Server(http: HttpServer, ref: AtomicReference[Snapshot],
      executor: java.util.concurrent.ExecutorService) {
    def port: Int = http.getAddress.getPort
    def stop(): Unit = { http.stop(0); executor.shutdown() }
    /** Current store snapshot (reflects applied updates). */
    def store: DataFrame = ref.get.quads
    /** Swap in a new store version (live serving: wire as
      * [[graft.streaming.QuadPipeline.run]]'s `onStore` callback so every
      * micro-batch publishes its refreshed store here). The version is
      * committed before the swap; the swap itself is atomic — requests in
      * flight finish on the old snapshot. */
    def refresh(quads: DataFrame): Unit = ref.set(new Snapshot(quads))
  }

  def start(quads: DataFrame, port: Int = 0): Server = {
    val ref = new AtomicReference[Snapshot](new Snapshot(quads))
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/sparql", new Handler(ref))
    // concurrent request pool, nproc+1 like the reference
    // (`SparqlService.scala:37`) — a slow SELECT no longer blocks other
    // clients. Safe because [[Snapshot]] is immutable and swaps are
    // atomic; updates serialize on the ref (Handler.runUpdate).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors() + 1)
    server.setExecutor(pool)
    server.start()
    Server(server, ref, pool)
  }

  private def parseParams(s: String): Map[String, String] =
    if (s == null || s.isEmpty) Map.empty
    else s.split("&").toSeq.flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(URLDecoder.decode(k, "UTF-8") -> URLDecoder.decode(v, "UTF-8"))
        case _ => None
      }
    }.toMap

  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  private def csvEscape(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  private val Sd = "http://www.w3.org/ns/sparql-service-description#"

  private val serviceDescription: String = Seq(
    s"_:service <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <${Sd}Service> .",
    s"_:service <${Sd}feature> <${Sd}UnionDefaultGraph> .",
    s"_:service <${Sd}supportedLanguage> <${Sd}SPARQL11Query> .",
    s"_:service <${Sd}supportedLanguage> <${Sd}SPARQL11Update> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/SPARQL_Results_JSON> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/SPARQL_Results_XML> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/SPARQL_Results_CSV> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/SPARQL_Results_TSV> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/N-Quads> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/Turtle> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/JSON-LD> .",
    s"_:service <${Sd}resultFormat> <http://www.w3.org/ns/formats/TriG> .")
    .mkString("", "\n", "\n")

  private def xmlEscape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
      .replace("\"", "&quot;")

  /** One bound variable of a result row: protocol term type, lexical
    * value, and a literal's `xml:lang` or `datatype`, if it has one. */
  private final case class Binding(tpe: String, value: String, tag: Option[(String, String)])

  /** The projected variables of a [[Sparql.selectTerms]] frame, and the
    * reader of a row's bindings (None where unbound). The term type is the
    * carried kind, or the strict IRI shape for a computed value without one. */
  private def bindings(df: DataFrame): (Seq[String], Row => Seq[Option[Binding]]) = {
    val all = df.columns.toSeq
    val vars = all.filterNot(_.startsWith("__"))
    val idx = vars.map(v => Seq(v, s"__kind_$v", s"__dt_$v", s"__lang_$v").map(all.indexOf(_)))
    (vars, row => idx.map { case Seq(vi, ki, di, li) =>
      def at(i: Int): Option[Any] = if (i < 0 || row.isNullAt(i)) None else Some(row.get(i))
      at(vi).map(_.toString).map { v =>
        at(ki).getOrElse(if (Sparql.looksLikeIri(v)) Quad.IRI else Quad.LITERAL) match {
          case Quad.IRI => Binding("uri", v, None)
          case Quad.BNODE => Binding("bnode", v, None)
          // an xsd:string literal is served plain, as RDF4J's writers do
          case _ => Binding("literal", v, at(li).map("xml:lang" -> _.toString)
            .orElse(at(di).filterNot(_ == Quad.Xsd.string).map("datatype" -> _.toString)))
        }
      }
    })
  }

  private final class Handler(ref: AtomicReference[Snapshot]) extends HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val (query, update) = ex.getRequestMethod.toUpperCase match {
          case "GET" =>
            (parseParams(ex.getRequestURI.getRawQuery).get("query"), None)
          case "POST" =>
            val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
            val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
            if (ct.startsWith("application/sparql-query")) (Some(body), None)
            else if (ct.startsWith("application/sparql-update")) (None, Some(body))
            else {
              val params = parseParams(body)
              (params.get("query"), params.get("update"))
            }
          case _ =>
            ex.sendResponseHeaders(405, -1); ex.close(); return
        }
        // query form, looking through any PREFIX header block
        def form(q: String): String =
          "(?is)^(?:\\s*PREFIX\\s+\\S+\\s+<[^>]*>)*\\s*(SELECT|ASK|CONSTRUCT|DESCRIBE)".r
            .findFirstMatchIn(q).map(_.group(1).toUpperCase).getOrElse("SELECT")
        (query, update) match {
          case (_, Some(u)) => runUpdate(ex, u)
          case (None, None) if ex.getRequestMethod.equalsIgnoreCase("GET") =>
            // SPARQL 1.1 Service Description for query-less GETs — the
            // reference serves the same document (sd:Service with
            // sd:UnionDefaultGraph, `SparqlService.scala:158-168,225-239`)
            respond(ex, 200, "application/n-triples", serviceDescription)
          case (None, None) => respond(ex, 400, "text/plain", "missing query parameter")
          case (Some(q), _) if form(q) == "ASK" =>
            val result = Sparql.ask(ref.get.quads, q)
            val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
            if (accept.contains("application/sparql-results+xml"))
              respond(ex, 200, "application/sparql-results+xml",
                "<?xml version=\"1.0\"?><sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">" +
                  s"<head/><boolean>$result</boolean></sparql>")
            else respond(ex, 200, "application/sparql-results+json",
              s"""{"head":{},"boolean":$result}""")
          case (Some(q), _) if form(q) == "CONSTRUCT" || form(q) == "DESCRIBE" =>
            // graph-result forms: N-Quads by default, Turtle on Accept —
            // the most common RDF tooling default (the reference resolves
            // every RDF4J writer the same way, SparqlService.scala:170-201)
            val df =
              try if (form(q) == "CONSTRUCT") Sparql.construct(ref.get.quads, q)
                  else Sparql.describe(ref.get.quads, q)
              catch {
                case e: Exception =>
                  respond(ex, 400, "text/plain", s"parse error: ${e.getMessage}")
                  return
              }
            val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
            if (accept.contains("text/turtle"))
              streamGraph(ex, df, "text/turtle", graft.sources.Turtle.writeStream(_, _))
            else if (accept.contains("application/ld+json"))
              streamGraph(ex, df, "application/ld+json", graft.sources.JsonLd.writeStream)
            else if (accept.contains("application/trig")) streamTrig(ex, df)
            else if (accept.contains("application/rdf+xml"))
              streamGraph(ex, df, "application/rdf+xml", graft.sources.RdfXml.writeStream)
            else streamNQuads(ex, df)
          case (Some(q), _) =>
            val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
            val (csv, tsv) =
              (accept.contains("text/csv"), accept.contains("text/tab-separated-values"))
            val df =
              try
                if (csv || tsv) Sparql.select(ref.get.quads, q)
                else Sparql.selectTerms(ref.get.quads, q)
              catch {
                case e: Exception =>
                  respond(ex, 400, "text/plain", s"parse error: ${e.getMessage}")
                  return
              }
            if (csv) streamCsv(ex, df)
            else if (tsv) streamTsv(ex, df)
            else if (accept.contains("application/sparql-results+xml")) streamXml(ex, df)
            else streamJson(ex, df)
        }
      } catch {
        case e: Exception =>
          try respond(ex, 500, "text/plain", s"error: ${e.getMessage}")
          catch { case _: Exception => () }
      } finally ex.close()

    private def runUpdate(ex: HttpExchange, updateText: String): Unit = {
      // updates serialize on the snapshot ref: with the concurrent
      // request pool, two read-modify-swap updates racing would lose one
      val ok = ref.synchronized {
        val diff =
          try Sparql.updateDiff(ref.get.quads, updateText)
          catch {
            case e: Exception =>
              respond(ex, 400, "text/plain", s"malformed update: ${e.getMessage}")
              return
          }
        // applyDiff returns the new version committed: the snapshot's own
        // commit runs no job
        ref.set(new Snapshot(QuadStore.applyDiff(ref.get.quads, diff)))
        true
      }
      if (ok) respond(ex, 200, "text/plain", "")
    }

    private def respond(ex: HttpExchange, code: Int, ct: String, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", ct)
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    }

    /** Stream `df` as `head`, one `line` per row with `sep` between
      * rows, then `foot`: chunked, one partition in flight at a time. */
    private def streamRows(ex: HttpExchange, contentType: String, df: DataFrame,
        head: String, line: Row => String, sep: String = "", foot: String = ""): Unit = {
      ex.getResponseHeaders.set("Content-Type", contentType)
      ex.sendResponseHeaders(200, 0) // 0 => chunked
      val out: OutputStream = ex.getResponseBody
      def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.UTF_8))
      w(head)
      val it = df.toLocalIterator()
      if (it.hasNext) w(line(it.next()))
      while (it.hasNext) { w(sep); w(line(it.next())) }
      w(foot)
      out.flush()
    }

    /** SPARQL results JSON from a [[Sparql.selectTerms]] frame. */
    private def streamJson(ex: HttpExchange, df: DataFrame): Unit = {
      val (cols, read) = bindings(df)
      def str(s: String) = "\"" + jsonEscape(s) + "\""
      streamRows(ex, "application/sparql-results+json", df,
        s"""{"head":{"vars":[${cols.map(str).mkString(",")}]},"results":{"bindings":[""",
        row => cols.zip(read(row)).collect { case (c, Some(b)) =>
          s"""${str(c)}:{"type":${str(b.tpe)},"value":${str(b.value)}""" +
            b.tag.map { case (k, t) => s",${str(k)}:${str(t)}" }.getOrElse("") + "}"
        }.mkString("{", ",", "}"),
        sep = ",", foot = "]}}")
    }

    /** SPARQL results XML (the reference's second tuple format) from a
      * [[Sparql.selectTerms]] frame. */
    private def streamXml(ex: HttpExchange, df: DataFrame): Unit = {
      val (cols, read) = bindings(df)
      streamRows(ex, "application/sparql-results+xml", df,
        """<?xml version="1.0"?><sparql xmlns="http://www.w3.org/2005/sparql-results#"><head>""" +
          cols.map(c => s"""<variable name="${xmlEscape(c)}"/>""").mkString + "</head><results>",
        row => cols.zip(read(row)).collect { case (c, Some(b)) =>
          val attr = b.tag.map { case (k, t) => s""" $k="${xmlEscape(t)}"""" }.getOrElse("")
          s"""<binding name="${xmlEscape(c)}"><${b.tpe}$attr>""" +
            s"""${xmlEscape(b.value)}</${b.tpe}></binding>"""
        }.mkString("<result>", "", "</result>"),
        foot = "</results></sparql>")
    }

    /** A row's values as strings, "" where unbound. */
    private def cells(row: Row): Seq[String] =
      row.toSeq.map(v => Option(v).map(_.toString).getOrElse(""))

    /** SPARQL results CSV (RFC 4180-ish). */
    private def streamCsv(ex: HttpExchange, df: DataFrame): Unit =
      streamRows(ex, "text/csv; charset=utf-8", df,
        df.columns.map(csvEscape).mkString("", ",", "\r\n"),
        row => cells(row).map(csvEscape).mkString("", ",", "\r\n"))

    /** SPARQL results TSV. */
    private def streamTsv(ex: HttpExchange, df: DataFrame): Unit =
      streamRows(ex, "text/tab-separated-values; charset=utf-8", df,
        df.columns.map("?" + _).mkString("", "\t", "\n"),
        row => cells(row).map(_.replace("\\", "\\\\").replace("\t", "\\t")
          .replace("\n", "\\n")).mkString("", "\t", "\n"))

    /** CONSTRUCT/DESCRIBE results in a subject-grouped serialization
      * (prefixed Turtle, flat expanded JSON-LD, or RDF/XML — the legacy
      * default of Protégé and older Jena clients, which the reference
      * negotiates via RDF4J, `SparqlService.scala:170-201`), streamed: the
      * result is sorted by (s, p, o) so `write` groups subject blocks in
      * one pass over `toLocalIterator` — no driver collect. Graph
      * provenance is flattened (none of the three has a graph term;
      * N-Quads and TriG keep it). */
    private def streamGraph(ex: HttpExchange, df: DataFrame, contentType: String,
        write: (Iterator[TermRow], String => Unit) => Unit): Unit = {
      import org.apache.spark.sql.functions.col
      ex.getResponseHeaders.set("Content-Type", s"$contentType; charset=utf-8")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      val idx = df.columns.zipWithIndex.toMap
      write(df.orderBy(col("s"), col("p"), col("o")).toLocalIterator().asScala.map(termRow(idx, _)),
        s => out.write(s.getBytes(StandardCharsets.UTF_8)))
      out.flush()
    }

    /** Graph results as TriG (named-graph-blocked Turtle), streamed —
      * the serialization that keeps `g` provenance. */
    private def streamTrig(ex: HttpExchange, df: DataFrame): Unit = {
      import org.apache.spark.sql.functions.col
      ex.getResponseHeaders.set("Content-Type", "application/trig; charset=utf-8")
      ex.sendResponseHeaders(200, 0)
      val out = ex.getResponseBody
      val idx = df.columns.zipWithIndex.toMap
      val rows = df.orderBy(col("g"), col("s"), col("p"), col("o")).toLocalIterator().asScala
        .map { row =>
          val (s, p, o, kind, dt, lang) = termRow(idx, row)
          (row.getString(idx("g")), s, p, o, kind, dt, lang)
        }
      graft.sources.Turtle.writeTrigStream(rows,
        s => out.write(s.getBytes(StandardCharsets.UTF_8)))
      out.flush()
    }

    /** (s, p, o, kind, dt, lang): the row the graph serializers take. */
    private type TermRow = (String, String, String, Byte, String, String)

    /** One result row as a [[TermRow]]; `idx` maps the frame's column
      * names to positions, and a missing `oKind` reads as a literal, a
      * missing `oDt`/`oLang` as null. */
    private def termRow(idx: Map[String, Int], row: Row): TermRow = {
      def strCol(c: String): String =
        idx.get(c).map(i => if (row.isNullAt(i)) null else row.getString(i)).orNull
      (row.getString(idx("s")), row.getString(idx("p")), row.getString(idx("o")),
        idx.get("oKind").map(row.getByte).getOrElse(Quad.LITERAL),
        strCol("oDt"), strCol("oLang"))
    }

    /** CONSTRUCT results as N-Quads lines, streamed. Expects the
      * (s, p, o, oKind, ..., g) layout [[Sparql.construct]] produces. */
    private def streamNQuads(ex: HttpExchange, df: DataFrame): Unit = {
      val idx = df.columns.zipWithIndex.toMap
      streamRows(ex, "application/n-quads; charset=utf-8", df, "", { row =>
        val (s, p, o, kind, dt, lang) = termRow(idx, row)
        val g = row.getString(idx("g"))
        // shared N-Triples term rule: ^^datatype / @lang survive;
        // blank-node subjects/graphs keep their _: label (never <_:b>)
        val oTerm = graft.sources.NTriples.fmtTerm(o, kind, dt, lang)
        val sTerm = if (s.startsWith("_:")) s else s"<$s>"
        val gTerm = if (g.startsWith("_:")) g else s"<$g>"
        s"$sTerm <$p> $oTerm $gTerm .\n"
      })
    }
  }
}

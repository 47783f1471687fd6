package perfbench

import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.convert.Converters
import graft.enrich.Enrichers
import graft.rdf.{Quad, QuadDiff, Sparql, SparqlEndpoint, TpchQuads}
import graft.streaming.{QuadPipeline, SyncBridge}

/** One generated document: id (`mail/…`, `vcard/…`, `cal/…`, `loc/…`),
  * converter kind and body. */
final case class Doc(id: String, kind: String, body: String)

object Doc {
  def all(n: JsonNode): Seq[Doc] =
    if (n == null) Nil
    else n.elements().asScala.map(d => Doc(d.get(0).asText(), d.get(1).asText(), d.get(2).asText())).toSeq
}

/** Building and committing the personal knowledge base through the
  * library's sync path: `TpchQuads` base, `SyncBridge.applyDelta` with the
  * converters and the standard enricher chain, an eager commit. */
object Store {
  val S: String = Converters.schemaOrg

  /** The converter for a delta's documents, dispatching on the id prefix.
    * Only kinds present in the delta are wired, so an empty JSON input
    * never reaches schema inference. */
  def converter(spark: SparkSession, docs: Seq[Doc], rid: String): Dataset[(String, String)] => Dataset[Quad] = {
    import spark.implicits._
    val kinds = docs.map(_.kind).toSet
    ds => {
      def of(k: String) = ds.filter(_._1.startsWith(k match {
        case "mail" => "mail/"
        case "vcard" => "vcard/"
        case "ical" => "cal/"
        case "location" => "loc/"
      }))
      val parts = Seq(
        Option.when(kinds("mail"))(Converters.email(of("mail"))),
        Option.when(kinds("vcard"))(Converters.vcard(of("vcard"))),
        Option.when(kinds("ical"))(Converters.ical(of("ical"))),
        Option.when(kinds("location"))(Converters.locationHistory(spark,
          spark.read.json(of("location").map(_._2))).as[Quad])).flatten
      // the converted batch and each enricher's output are committed as
      // they are produced: left lazy, the chain's plan re-derives every
      // earlier stage at every reference and takes minutes to plan
      val rows = Trace.span("convert", rid, spark.sparkContext)(
        parts.reduce(_ union _).localCheckpoint(eager = true))
      if (Trace.on) Trace.count(s"convert.rows@$rid", rows.count())
      rows
    }
  }

  /** ifpSameAs → stays → eventStayLinks, each stage's output committed
    * inside its own span. */
  def chain(rid: String, sc: org.apache.spark.SparkContext): Seq[QuadPipeline.Enricher] =
    Seq("ifp" -> Enrichers.ifpSameAs(S + "email"), "stays" -> Enrichers.stays(),
      "event_stay" -> Enrichers.eventStayLinks(S)).map { case (name, e) =>
      (store: DataFrame, diff: QuadDiff) =>
        Trace.span(s"enrich.$name", rid, sc) {
          val d = e(store, diff)
          val added = d.added.localCheckpoint(eager = true)
          if (Trace.on) Trace.count(s"enrich.$name.rows@$rid", added.count())
          QuadDiff(added, d.removed)
        }
    }

  /** Apply one delta and commit the new store version. */
  def applyAndCommit(store: DataFrame, docs: Seq[Doc], removed: Seq[String],
      rid: String): (DataFrame, QuadDiff) = {
    val spark = store.sparkSession
    val sc = spark.sparkContext
    val empty = store.limit(0)
    val (next, diff) = Trace.span("streaming.apply_delta", rid, sc)(
      SyncBridge.applyDelta(store, docs.map(d => d.id -> d.body), removed,
        converter(spark, docs, rid), empty, chain(rid, sc)))
    (Trace.span("rdf.commit", rid, sc)(next.localCheckpoint(eager = true)), diff)
  }

  def base(spark: SparkSession, data: String, docs: Seq[Doc], rid: String): DataFrame = {
    val tpch = TpchQuads.quads(spark, data).localCheckpoint(eager = true)
    applyAndCommit(tpch, docs, Nil, rid)._1
  }

  /** (quads, duplicate quads): the store must have set semantics. */
  def sizes(store: DataFrame): (Long, Long) = {
    val n = store.count()
    (n, n - store.select("s", "p", "o", "g").distinct().count())
  }

  def graphCount(store: DataFrame, g: String, p: String): Long =
    store.where(col("g") === g && col("p") === p).count()
}

/** A SPARQL protocol client that times each request from send to the
  * last body byte, and checks the answer against the expected one. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()
  private val base = s"http://localhost:$port/sparql"

  /** (ttfb ms, total ms, status, body) */
  def query(q: String, accept: String): (Double, Double, Int, String) = {
    val mime = accept match {
      case "csv" => "text/csv"
      case "nquads" => "application/n-quads"
      case _ => "application/sparql-results+json"
    }
    val req = HttpRequest.newBuilder(URI.create(base + "?query=" + URLEncoder.encode(q, "UTF-8")))
      .header("Accept", mime).GET().build()
    send(req)
  }

  def update(u: String): (Double, Double, Int, String) =
    send(HttpRequest.newBuilder(URI.create(base))
      .header("Content-Type", "application/sparql-update")
      .POST(HttpRequest.BodyPublishers.ofString(u)).build())

  private def send(req: HttpRequest): (Double, Double, Int, String) = {
    val t0 = System.nanoTime()
    val resp = http.send(req, HttpResponse.BodyHandlers.ofInputStream())
    val ttfb = (System.nanoTime() - t0) / 1e6
    val body = new String(resp.body().readAllBytes(), StandardCharsets.UTF_8)
    (ttfb, (System.nanoTime() - t0) / 1e6, resp.statusCode(), body)
  }

  /** SELECT JSON → rows in the order of `head.vars`. */
  def jsonRows(body: String): Seq[Seq[String]] = {
    val root = mapper.readTree(body)
    val vars = Json.strings(root.get("head").get("vars"))
    root.get("results").get("bindings").elements().asScala.map { b =>
      vars.map(v => Option(b.get(v)).map(_.get("value").asText()).getOrElse(""))
    }.toSeq
  }

  def csvRows(body: String): Seq[Seq[String]] =
    body.split("\r?\n").toSeq.drop(1).filter(_.nonEmpty)
      .map(_.split(",", -1).toSeq.map(_.stripPrefix("\"").stripSuffix("\"")))

  def subjects(body: String): Seq[String] =
    body.split("\n").toSeq.filter(_.trim.nonEmpty)
      .map(l => l.substring(1, l.indexOf('>'))).distinct.sorted

  /** Empty when the answer equals the expected one of `req`, else the
    * first difference. Requests with `ordered` compare row order too;
    * the others are unordered solutions and compare as multisets. */
  def verdict(req: JsonNode, status: Int, body: String): String =
    if (status != 200) s"status $status: ${body.take(200)}"
    else try {
      def same[T](got: Seq[T], want: Seq[T], ordered: Boolean): String = {
        val (g, w) = if (ordered) (got, want) else (got.map(_.toString).sorted, want.map(_.toString).sorted)
        if (g == w) ""
        else {
          val i = g.zip(w).indexWhere { case (a, b) => a != b }
          if (i >= 0) s"row $i: got ${g(i)}, want ${w(i)}" else s"got ${g.size} rows, want ${w.size}"
        }
      }
      val ordered = req.path("ordered").asBoolean(false)
      req.get("t").asText() match {
        case "ask" =>
          val got = mapper.readTree(body).get("boolean").asBoolean()
          if (got == req.get("bool").asBoolean()) "" else s"got $got"
        case "construct" => same(subjects(body), Json.strings(req.get("subjects")), ordered = true)
        case "csv" => same(csvRows(body), Json.rows(req.get("rows")), ordered)
        case _ => same(jsonRows(body), Json.rows(req.get("rows")), ordered)
      }
    } catch { case e: Exception => s"unreadable answer: $e" }

}

/** `serve`: a closed loop of client threads against `SparqlEndpoint` over
  * one fixed snapshot (TpchQuads + converted, enriched personal data). */
object Serve {
  /** Closed-loop client threads. */
  val Clients = 3

  /** Untimed traffic before the timed window. At 3 clients on 4 cores,
    * per-template latency falls by about a third over the first 12 s
    * (JIT compilation) and by a few percent more over the next 10 s; a
    * longer warm-up does not fit the run budget. */
  val WarmupS = 12

  final case class Sample(template: String, startNs: Long, endNs: Long, wrong: String) {
    def ms: Double = (endNs - startNs) / 1e6
    def ok: Boolean = wrong.isEmpty
  }

  def run(cfg: JsonNode): Result = {
    val r = new Result
    val (spark, listener) = Analytics.session()
    val sc = spark.sparkContext
    val data = cfg.get("data").asText()
    val docs = Doc.all(cfg.get("docs"))
    val reqs = cfg.get("requests").elements().asScala.toIndexedSeq
    val seconds = cfg.get("seconds").asDouble()
    val seed = cfg.get("seed").asLong()
    val templates = reqs.map(_.get("t").asText()).distinct

    // set-up: snapshot build + endpoint start + first answer
    val tSetup = System.nanoTime()
    val store = Store.base(spark, data, docs, "setup")
    val server = SparqlEndpoint.start(store)
    val first = new Client(server.port)
    val (_, _, st0, body0) = first.query(reqs.head.get("q").asText(), reqs.head.get("accept").asText())
    val wrong0 = first.verdict(reqs.head, st0, body0)
    r.metrics("setup_s") = Stats.secondsSince(tSetup)
    r.check("first answer after set-up", wrong0.isEmpty, wrong0)
    if (Trace.on) Sync.writeLayers(r, listener, sc, Seq("setup"))
    checkStore(r, store, cfg.get("expect"))

    // one closed loop: each client walks the mix in cycles of one request
    // per template, from its own cycle, in an order it shuffles per cycle
    // from the seed. A request's latency depends on what the other clients
    // run meanwhile; a fixed order would lock each template to the same
    // neighbours for a whole run. The first `WarmupS` seconds are untimed;
    // requests that start in the next `seconds` seconds are measured, and
    // at the deadline each client finishes the request it has in flight
    // and stops (it goes on while some template has no timed sample yet)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val cycles = reqs.grouped(templates.size).toIndexedSeq
    val t0 = System.nanoTime() + (WarmupS * 1e9).toLong
    val deadline = t0 + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        val client = new Client(server.port)
        val rng = new scala.util.Random(seed * Clients + c)
        val mix = Iterator.from(c).flatMap(k => rng.shuffle(cycles(k % cycles.size)))
        while (System.nanoTime() < deadline || seen.size < templates.size) {
          val req = mix.next()
          val s0 = System.nanoTime()
          val (_, _, st, body) =
            try client.query(req.get("q").asText(), req.get("accept").asText())
            catch { case e: Exception => (0.0, 0.0, -1, e.toString) }
          val wrong = client.verdict(req, st, body)
          samples.add(Sample(req.get("t").asText(), s0, System.nanoTime(), wrong))
          if (s0 >= t0) seen.add(req.get("t").asText())
        }
      })
    }
    threads.foreach(_.start())
    Thread.sleep(math.max(0L, (t0 - System.nanoTime()) / 1000000L))
    val before = listener.snapshot(sc)
    val tBefore = System.nanoTime()
    threads.foreach(_.join())
    val after = listener.snapshot(sc)
    val all = samples.asScala.toSeq
    val timed = all.filter(_.startNs >= t0)
    r.attempted = all.size
    r.failed = all.count(!_.ok)
    r.check("every answer matches its expected answer", r.failed == 0,
      all.filterNot(_.ok).groupBy(_.template).map { case (t, xs) => s"$t: ${xs.head.wrong}" }.mkString("; "))
    // the timed window holds whole cycles only by chance: every template
    // weighs the same in the latency quantiles, whatever its sample count
    val count = timed.groupBy(_.template).map { case (t, xs) => t -> xs.size }
    val weighted = timed.map(x => x.ms -> 1.0 / count(x.template))
    r.metrics("read_p50_ms") = Stats.hdQuantile(weighted, 0.5)
    r.metrics("read_p95_ms") = Stats.hdQuantile(weighted, 0.95)
    // a closed loop with no think time completes Clients / R requests a
    // second (Little's law), R the mean latency over the templates, each
    // weighing the same
    val meanMs = templates.map(t => timed.filter(_.template == t).map(_.ms)).map(xs => xs.sum / xs.size)
    r.metrics("read_qps") = Clients / (meanMs.sum / meanMs.size / 1e3)
    // a pass is one request per template, one client: the sum of the
    // templates' median latencies
    val perTemplate = templates.map(t => t -> Stats.median(timed.filter(_.template == t).map(_.ms)))
    r.metrics("pass_s") = perTemplate.map(_._2).sum / 1e3
    r.layers("serve.samples") = timed.size
    r.layers("serve.warmup_samples") = all.size - timed.size
    // Spark work between the two listener snapshots, per pass of the
    // requests that completed between them
    val nPass = all.count(_.endNs > tBefore).toDouble / templates.size
    val w = after.map { case (g, x) => x - before.getOrElse(g, Work.zero) }
      .foldLeft(Work.zero)(_ + _)
    r.work("spark", w, nPass)
    perTemplate.foreach { case (t, ms) => r.layers(s"endpoint.p50_ms.$t") = ms }

    if (Trace.on) attribute(r, spark, listener, server, reqs, templates)
    server.stop()
    r
  }

  /** Per-template layer split, one request at a time so every Spark job
    * in the window belongs to it: parse/compile and plan through the
    * library (`Sparql.*`), then the same request over HTTP. */
  private def attribute(r: Result, spark: SparkSession, listener: GroupListener,
      server: SparqlEndpoint.Server, reqs: Seq[JsonNode], templates: Seq[String]): Unit = {
    val sc = spark.sparkContext
    val store = server.store
    val client = new Client(server.port)
    val snap = new SparqlEndpoint.Snapshot(store)
    val t0 = System.nanoTime()
    snap.termKinds.count()
    r.layers("rdf.termkinds_ms") = (System.nanoTime() - t0) / 1e6
    var build, plan, exec = 0.0
    templates.foreach { t =>
      val req = reqs.find(_.get("t").asText() == t).get
      val q = req.get("q").asText()
      val p0 = System.nanoTime()
      val df: Option[DataFrame] = Trace.span(s"rdf.parse.$t", t, sc) {
        if (t == "ask") { Sparql.ask(store, q); None }
        else if (t == "construct") Some(Sparql.construct(store, q))
        else Some(Sparql.select(store, q))
      }
      val parse = (System.nanoTime() - p0) / 1e6
      val p1 = System.nanoTime()
      Trace.span(s"rdf.plan.$t", t, sc)(df.foreach(_.queryExecution.executedPlan))
      val planMs = (System.nanoTime() - p1) / 1e6
      val jobs0 = listener.snapshot(sc).getOrElse(GroupListener.NoGroup, Work.zero).jobs
      val (ttfb, total, st, body) =
        Trace.span(s"endpoint.$t", t)(client.query(q, req.get("accept").asText()))
      val jobs1 = listener.snapshot(sc).getOrElse(GroupListener.NoGroup, Work.zero).jobs
      val wrong = client.verdict(req, st, body)
      r.check(s"attributed $t answer", wrong.isEmpty, wrong)
      r.layers(s"rdf.parse_ms.$t") = parse
      r.layers(s"rdf.plan_ms.$t") = planMs
      r.layers(s"endpoint.ttfb_ms.$t") = ttfb
      r.layers(s"endpoint.body_ms.$t") = total - ttfb
      r.layers(s"endpoint.jobs.$t") = (jobs1 - jobs0).toDouble
      build += parse
      plan += planMs
      exec += total
    }
    r.layers("op.build_ms") = build
    r.layers("op.plan_ms") = plan
    r.layers("op.exec_ms") = exec
  }

  /** The snapshot against the generator's records: set semantics and the
    * enricher counts it planted. */
  def checkStore(r: Result, store: DataFrame, expect: JsonNode, when: String = "snapshot"): Unit = {
    val (n, dups) = Store.sizes(store)
    r.layers("store.quads") = n.toDouble
    r.layers("store.dup_quads") = dups.toDouble
    r.check(s"$when has set semantics", dups == 0, s"$dups duplicate quads of $n")
    Seq("stays" -> Store.graphCount(store, "graft:stays", "rdf:type"),
      "same_as" -> Store.graphCount(store, "graft:ifp", "personal:sameAs"),
      "event_stay" -> Store.graphCount(store, "graft:eventStay", "personal:tookPlaceAt"))
      .foreach { case (k, got) =>
        val want = expect.get(k).asLong()
        r.check(s"$when $k count", got == want, s"got $got, planted $want")
      }
  }
}

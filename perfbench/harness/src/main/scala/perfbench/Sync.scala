package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.SparkContext
import org.apache.spark.sql.functions.col

import graft.rdf.{QuadStore, Sparql, SparqlEndpoint}

/** `sync`: one writer runs delta rounds on the served store. Each round
  * goes through `SyncBridge.applyDelta` with the enricher chain, commits,
  * swaps the endpoint's snapshot and probes until the round's source fact
  * and its derived fact are both visible; then it sends SPARQL UPDATEs. */
object Sync {

  def run(cfg: JsonNode): Result = {
    val r = new Result
    val (spark, listener) = Analytics.session()
    val sc = spark.sparkContext
    val data = cfg.get("data").asText()
    val docs = Doc.all(cfg.get("docs"))
    val rounds = cfg.get("rounds").elements().asScala.toIndexedSeq
    val seconds = cfg.get("seconds").asDouble()

    val tSetup = System.nanoTime()
    val server = SparqlEndpoint.start(Store.base(spark, data, docs, "setup"))
    r.metrics("setup_s") = Stats.secondsSince(tSetup)
    Serve.checkStore(r, server.store, cfg.get("expect"), "base")
    val client = new Client(server.port)
    // SPARQL results must keep ORDER BY; checked once on the base store
    val probe = cfg.get("order_probe")
    val (_, _, st, body) = client.query(probe.get("q").asText(), "json")
    val disorder = client.verdict(probe, st, body)
    r.check("JSON SELECT keeps ORDER BY", disorder.isEmpty, disorder)

    val freshness, refreshToVisible, updates, parseMs, applyMs = ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var k = 0
    while (k < rounds.size && (k == 0 || Stats.secondsSince(t0) < seconds)) {
      val round = rounds(k)
      val rid = s"round$k"
      r.attempted += 1
      val tA = System.nanoTime()
      val (next, diff) = Store.applyAndCommit(server.store, Doc.all(round.get("docs")),
        Json.strings(round.get("removed")), rid)
      val tR = System.nanoTime()
      server.refresh(next)
      val probe = round.get("probe").asText()
      var seen = false
      while (!seen && Stats.secondsSince(tA) < 120) {
        val (_, _, st, body) = client.query(probe, "json")
        seen = st == 200 && client.jsonRows(body).nonEmpty
      }
      freshness += Stats.secondsSince(tA)
      refreshToVisible += (System.nanoTime() - tR) / 1e6
      r.check(s"round $k probe sees the source fact and its derived fact", seen)

      round.get("updates").elements().asScala.map(_.asText()).foreach { u =>
        r.attempted += 1
        if (Trace.on) {
          // the UPDATE path split through the library, on the same store
          val p0 = System.nanoTime()
          val d = Sparql.updateDiff(server.store, u)
          parseMs += (System.nanoTime() - p0) / 1e6
          val a0 = System.nanoTime()
          QuadStore.applyDiff(server.store, d).localCheckpoint(eager = true)
          applyMs += (System.nanoTime() - a0) / 1e6
        }
        val (_, ms, st, body) = client.update(u)
        updates += ms
        if (!r.check(s"round $k update accepted", st == 200, s"status $st: ${body.take(200)}"))
          r.failed += 1
      }

      // the round's state against the generator's records; a wrong state
      // makes the round's probe answer wrong, so it counts as failed
      val failedBefore = r.checks.count(c => c("ok") == false)
      val store = server.store
      Serve.checkStore(r, store, round.get("expect"), s"round $k")
      val notes = store.where(col("p") === "personal:note").count()
      r.check(s"round $k update count", notes == round.get("expect").get("notes").asLong(),
        s"got $notes notes")
      if (!seen || r.checks.count(c => c("ok") == false) > failedBefore) r.failed += 1
      if (Trace.on) {
        r.layers("diff.added") = diff.added.count().toDouble
        r.layers("diff.removed") = diff.removed.count().toDouble
      }
      k += 1
    }
    r.metrics("freshness_p50_s") = Stats.median(freshness.toSeq)
    r.metrics("update_p50_ms") = Stats.median(updates.toSeq)
    r.layers("sync.rounds") = k
    r.layers("endpoint.refresh_to_visible_ms") = Stats.median(refreshToVisible.toSeq)
    if (Trace.on) {
      r.layers("rdf.update_parse_ms") = Stats.median(parseMs.toSeq)
      r.layers("rdf.update_apply_ms") = Stats.median(applyMs.toSeq)
      writeLayers(r, listener, sc, (0 until k).map(i => s"round$i"))
    }
    server.stop()
    r
  }

  /** Write-path layers, averaged over the given rounds (or set-ups). */
  def writeLayers(r: Result, listener: GroupListener, sc: SparkContext, rids: Seq[String]): Unit = {
    val groups = listener.snapshot(sc)
    val spans = Trace.all.filter(s => rids.contains(s.rid))
    val counted = Trace.counted
    val n = rids.size.toDouble
    def ms(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
    def jobs(name: String) = rids.map(rid => groups.get(s"$name@$rid").map(_.jobs).getOrElse(0L)).sum / n
    def rows(name: String) = rids.map(rid => counted.getOrElse(s"$name.rows@$rid", 0L)).sum / n
    r.layers("convert.ms") = ms("convert")
    r.layers("convert.rows") = rows("convert")
    r.layers("streaming.apply_delta_ms") = ms("streaming.apply_delta")
    r.layers("streaming.eager_jobs") = jobs("streaming.apply_delta")
    Seq("ifp", "stays", "event_stay").foreach { e =>
      r.layers(s"enrich.$e.ms") = ms(s"enrich.$e")
      r.layers(s"enrich.$e.rows") = rows(s"enrich.$e")
      r.layers(s"enrich.$e.jobs") = jobs(s"enrich.$e")
    }
    r.layers("rdf.commit_ms") = ms("rdf.commit")
    r.layers("rdf.commit_jobs") = jobs("rdf.commit")
  }
}

package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

import graft.rdf.{Quad, QuadDiff, QuadStore}

/** Bridges a protocol synchronizer's delta ([[graft.sources.DavSync]],
  * [[graft.sources.ImapSync]]) into one pipeline step — the reference
  * Pipeline's addDocument/removeDocument pair
  * (`core/src/main/com/thymeflow/Pipeline.scala:61-93`): new/changed
  * documents convert into their per-document graphs and land with
  * replace semantics through [[QuadPipeline.processBatch]]; vanished
  * documents clear their graphs. The protocol leg is driver-side I/O;
  * conversion and the store rewrite are the distributed part. */
object SyncBridge {

  /** Apply one sync round. `docs` are (docId, body) pairs for fetched
    * documents; `removedIds` are docIds whose graphs must clear;
    * `convert` is the matching converter (email/ical/vcard — all assign
    * graph `doc:<docId>`). Returns (new store, full round diff). */
  def applyDelta(
      store: DataFrame,
      docs: Seq[(String, String)],
      removedIds: Seq[String],
      convert: Dataset[(String, String)] => Dataset[Quad],
      negations: DataFrame,
      enrichers: Seq[QuadPipeline.Enricher]): (DataFrame, QuadDiff) = {
    val spark = store.sparkSession
    import spark.implicits._
    val removedGraphs = removedIds.map(id => s"doc:$id")
    val removalDiff = QuadDiff(
      store.limit(0),
      if (removedGraphs.isEmpty) store.limit(0)
      else store.filter(col("g").isin(removedGraphs: _*)))
    val afterRemove =
      if (removedGraphs.isEmpty) store else QuadStore.applyDiff(store, removalDiff)
    val batch =
      if (docs.isEmpty) afterRemove.limit(0)
      else convert(docs.toDS()).toDF().select(afterRemove.columns.map(col): _*)
    val (next, diff) = QuadPipeline.processBatch(afterRemove, batch, negations, enrichers)
    (next, removalDiff.union(diff))
  }

  /** Write-back leg: push DAV-owned graphs an update touched back to
    * their collection (the reference's Updater→Synchronizer round trip,
    * `BaseDavSynchronizer.scala:230-240`). For every `doc:<href>` graph
    * in the diff whose href lives under `collectionUrl`, the document is
    * regenerated from the UPDATED store ([[graft.convert.VcardWrite]])
    * and PUT with the cursor's etag as `If-Match`; the advanced cursor
    * carries the servers' new etags so the next sync round sees its own
    * write as already-known instead of refetching it.
    *
    * Driver-side by design: the per-document collect is one contact's
    * quads (the same bounded unit the protocol fetch materializes), and
    * the graph list is bounded by the update's own size. */
  def writeBackDav(
      store: DataFrame,
      diff: QuadDiff,
      collectionUrl: String,
      state: graft.sources.DavSync.DavState,
      client: java.net.http.HttpClient = java.net.http.HttpClient.newHttpClient(),
      serialize: Seq[Quad] => String = graft.convert.VcardWrite.fromQuads,
      contentType: String = "text/vcard")
      : graft.sources.DavSync.DavState = {
    val spark = store.sparkSession
    import spark.implicits._
    val collectionPath = java.net.URI.create(collectionUrl).getPath.stripSuffix("/")
    val touched = diff.added.select("g").union(diff.removed.select("g"))
      .distinct().as[String].collect()
      .collect { case g if g.startsWith("doc:") => g.stripPrefix("doc:") }
      .filter(_.stripSuffix("/").startsWith(collectionPath + "/"))
      .sorted
    touched.foldLeft(state) { (st, href) =>
      val quads = store.where(col("g") === s"doc:$href").as[Quad].collect().toSeq
      if (quads.isEmpty) {
        // the document vanished from the store (its graph was cleared by
        // the delta): do NOT PUT — serializing zero quads produces an
        // empty body that would clobber the server copy with invalid
        // content. Deletion is deliberately not propagated (parity with
        // the read-mostly reference sync); dropping the etag makes the
        // next sync round refetch and reconcile the server copy.
        st.copy(etags = st.etags - href)
      } else {
        val body = serialize(quads)
        val url = java.net.URI.create(collectionUrl).resolve(href).toString
        val newEtag = graft.sources.DavSync.put(url, body, st.etags.get(href),
          contentType = contentType, client = client)
        newEtag match {
          case Some(e) => st.copy(etags = st.etags + (href -> e))
          // no etag in the PUT response: drop the stale one so the next
          // sync round refetches and reconciles
          case None => st.copy(etags = st.etags - href)
        }
      }
    }
  }
}

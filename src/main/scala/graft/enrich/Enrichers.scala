package graft.enrich

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.rdf.{QuadDiff, Views}
import graft.spatial.{StayExtraction, WindowedStays}
import graft.streaming.QuadPipeline.Enricher

/** The reference's enricher set as reusable pipeline stages — each one a
  * [[graft.streaming.QuadPipeline.Enricher]] `(store, diff) => QuadDiff`
  * writing its own provenance graph, mirroring the enrichers under
  * `core/src/main/com/thymeflow/enricher/` wired in
  * `thymeflow/src/main/com/thymeflow/Thymeflow.scala:56-63`:
  * inverse-functional-property inference → stay extraction → event-stay
  * matching. The golden end-to-end test (GoldenPipelineSpec) runs this
  * exact chain over authored personal-data fixtures.
  */
object Enrichers {

  private def quad(s: Column, p: String, o: Column, kind: Int, g: String) =
    struct(s.as("s"), lit(p).as("p"), o.cast("string").as("o"),
      lit(kind).cast("byte").as("oKind"),
      lit(null).cast("string").as("oDt"), lit(null).cast("string").as("oLang"),
      lit(g).as("g"))

  /** IFP inference: subjects sharing a value of an inverse-functional
    * property (e.g. schema:email) are the same
    * (`InverseFunctionalPropertyInferencer`). */
  def ifpSameAs(emailPredicate: String,
      outGraph: String = "graft:ifp"): Enricher = (store, _) => {
    val emails = store.where(col("p") === emailPredicate)
      .select(col("s").as("agent"), col("o").as("email"))
    val pairs = Resolution.ifpPairs(emails, Seq("email"), "agent")
    val added = pairs.select(quad(col("s1"), "personal:sameAs", col("s2"), 0,
      outGraph).as("q")).select(col("q.*"))
    QuadDiff(added, added.limit(0))
  }

  /** Stay extraction over the store's Location view → personal:Stay quads
    * (`LocationStayEnricher`). `windowed = true` runs the full-fidelity
    * multi-candidate + trellis pipeline ([[WindowedStays]]); false runs
    * the greedy single-cluster pass. */
  def stays(outGraph: String = "graft:stays",
      windowed: Boolean = false,
      minStayMs: Long = StayExtraction.DefaultMinStayMs): Enricher = (store, _) => {
    val loc = Views.locations(store)
      .select(
        lit(1L).as("user"),
        col("time").cast("timestamp").as("ts"),
        regexp_extract(col("geo"), "geo:([^,]+),(.+)", 1).cast("double").as("lat"),
        regexp_extract(col("geo"), "geo:([^,]+),(.+)", 2).cast("double").as("lon"),
        col("uncertainty").cast("double").as("accuracy"))
    val staysDf =
      if (windowed) WindowedStays.extractStaysDf(loc, minFinalStayMs = minStayMs)
      else StayExtraction.extractStaysDf(loc, minStayMs = minStayMs)
    val stayIri = concat(lit("urn:stay:"), col("start_ms"))
    val added = staysDf.select(explode(array(
        quad(stayIri, "rdf:type", lit("personal:Stay"), 0, outGraph),
        quad(stayIri, "personal:start", col("start_ms"), 2, outGraph),
        quad(stayIri, "personal:end", col("end_ms"), 2, outGraph),
        quad(stayIri, "personal:geo",
          concat(lit("geo:"), col("lat"), lit(","), col("lon")), 0, outGraph)))
        .as("q"))
      .select(col("q.*"))
    QuadDiff(added, added.limit(0))
  }

  /** Event-stay matching: schema events whose interval overlaps a stay
    * within 1 km link via personal:tookPlaceAt (`LocationEventEnricher`).
    * @param schemaPrefix the schema.org namespace used by the converters
    * @param docGraphPrefix graph prefix of document (converter) quads */
  def eventStayLinks(schemaPrefix: String,
      outGraph: String = "graft:eventStay",
      staysGraph: String = "graft:stays",
      docGraphPrefix: String = "doc:"): Enricher = (store, _) => {
    // events carry ISO xsd:dateTime (TZID-normalized converter output) or
    // the raw iCal basic form when unparseable — accept both
    // X (zone-offset) parses the trailing Z as UTC; quoting it as a
    // literal ('Z') read UTC basic-form times in the SESSION timezone —
    // invisible at the harness's UTC default, a silent interval shift
    // (and missed tookPlaceAt links) on any non-UTC deployment
    val parseTs = (c: Column) => coalesce(
      try_to_timestamp(c, lit("yyyyMMdd'T'HHmmssX")), try_to_timestamp(c))
    val events = store.where(col("p") === (schemaPrefix + "startDate"))
      .select(col("s").as("ev"), parseTs(col("o")).as("e_start"))
      .join(store.where(col("p") === (schemaPrefix + "endDate"))
        .select(col("s").as("ev"), parseTs(col("o")).as("e_end")), "ev")
      .join(store.where(col("p") === (schemaPrefix + "geo") &&
          col("g").startsWith(docGraphPrefix))
        .select(col("s").as("ev"),
          regexp_extract(col("o"), "geo:([^,]+),(.+)", 1).cast("double").as("e_lat"),
          regexp_extract(col("o"), "geo:([^,]+),(.+)", 2).cast("double").as("e_lon")), "ev")
      .withColumnRenamed("ev", "event_id")
    val stays = store.where(col("g") === staysGraph && col("p") === "personal:start")
      .select(col("s").as("stay_id"), timestamp_millis(col("o").cast("long")).as("s_start"))
      .join(store.where(col("g") === staysGraph && col("p") === "personal:end")
        .select(col("s").as("stay_id"),
          timestamp_millis(col("o").cast("long")).as("s_end")), "stay_id")
      .join(store.where(col("g") === staysGraph && col("p") === "personal:geo")
        .select(col("s").as("stay_id"),
          regexp_extract(col("o"), "geo:([^,]+),(.+)", 1).cast("double").as("s_lat"),
          regexp_extract(col("o"), "geo:([^,]+),(.+)", 2).cast("double").as("s_lon")), "stay_id")
    val matched = EventStayMatch.matchEvents(
      events.select(col("event_id"), col("e_start"), col("e_end"),
        col("e_lat"), col("e_lon")),
      stays.select(col("stay_id"), col("s_start"), col("s_end"),
        col("s_lat"), col("s_lon")),
      bucketSeconds = 3600)
    val added = matched.select(quad(col("event_id"), "personal:tookPlaceAt",
      col("stay_id"), 0, outGraph).as("q")).select(col("q.*"))
    QuadDiff(added, added.limit(0))
  }
}

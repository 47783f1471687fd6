package graft.spatial

import graft.SparkSpec
import graft.functions.{GeoTimeFunctions, Haversine}
import org.apache.spark.sql.functions._

class StaySpec extends SparkSpec {
  import spark.implicits._

  "Haversine.distanceMeters" should "match known city distances" in {
    // Paris -> London ≈ 344 km
    val d = Haversine.distanceMeters(48.8566, 2.3522, 51.5074, -0.1278)
    d shouldBe 343.5e3 +- 2e3
    Haversine.distanceMeters(10, 20, 10, 20) shouldBe 0.0
  }

  "Vincenty.distanceMeters" should "match the canonical 1975 test line and WGS84 geodesics" in {
    // Vincenty's own test case (Survey Review 1975): Flinders Peak ->
    // Buninyong on the Australian geodetic datum geometry; on WGS84 the
    // published geodesic distance is 54 972.271 m (mm-level agreement)
    val flindersLat = -(37.0 + 57.0 / 60 + 3.72030 / 3600)
    val flindersLon = 144.0 + 25.0 / 60 + 29.52440 / 3600
    val buninyongLat = -(37.0 + 39.0 / 60 + 10.15610 / 3600)
    val buninyongLon = 143.0 + 55.0 / 60 + 35.38390 / 3600
    graft.functions.Vincenty.distanceMeters(
      flindersLat, flindersLon, buninyongLat, buninyongLon) shouldBe
      54972.271 +- 0.01
    // one degree of longitude on the equator: a/180*pi = 111 319.491 m
    graft.functions.Vincenty.distanceMeters(0, 0, 0, 1) shouldBe 111319.491 +- 0.01
    // one degree of latitude from the equator: 110 574.389 m on WGS84
    graft.functions.Vincenty.distanceMeters(0, 0, 1, 0) shouldBe 110574.389 +- 0.01
    graft.functions.Vincenty.distanceMeters(10, 20, 10, 20) shouldBe 0.0
    // ellipsoid vs sphere stays within ~0.6% on mid-latitude lines
    val v = graft.functions.Vincenty.distanceMeters(48.8566, 2.3522, 51.5074, -0.1278)
    val h = Haversine.distanceMeters(48.8566, 2.3522, 51.5074, -0.1278)
    math.abs(v - h) / v should be < 0.006
    // near-antipodal falls back instead of diverging
    graft.functions.Vincenty.distanceMeters(0, 0, 0.5, 179.7) should be > 1.9e7
  }

  it should "evaluate through codegen as vincenty_m" in {
    spark.sql("SELECT vincenty_m(0D, 0D, 0D, 1D) AS d").as[Double].head() shouldBe
      111319.491 +- 0.01
  }

  "haversineMeters column" should "run through codegen after registration" in {
    val d = Seq((48.8566, 2.3522, 51.5074, -0.1278)).toDF("la1", "lo1", "la2", "lo2")
      .select(GeoTimeFunctions.haversineMeters($"la1", $"lo1", $"la2", $"lo2").as("d"))
      .as[Double].head()
    d shouldBe 343.5e3 +- 2e3
    // and via SQL
    spark.sql("SELECT haversine_m(0D, 0D, 0D, 1D) AS d").as[Double].head() shouldBe
      111.19e3 +- 0.2e3
  }

  "durationMillis" should "be an exact epoch difference" in {
    spark.sql(
      "SELECT duration_ms(TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 00:00:01') AS d")
      .as[Long].head() shouldBe 1000L
  }

  "extractStays" should "find a stay and ignore brief visits" in {
    val minute = 60000L
    // user 1: 20 observations over 20+ min near the same point -> one stay;
    // then a quick far-away excursion (2 min) -> no stay
    val obsHome = (0 until 20).map(i =>
      StayExtraction.Obs(1L, i * minute, 40.0 + (i % 3) * 1e-5, -74.0, 20.0))
    val obsTrip = Seq(
      StayExtraction.Obs(1L, 30 * minute, 41.0, -75.0, 20.0),
      StayExtraction.Obs(1L, 32 * minute, 41.0, -75.0, 20.0))
    // user 2: two obs far apart in space every minute -> no stay
    val obsJumpy = (0 until 20).map(i =>
      StayExtraction.Obs(2L, i * minute, 40.0 + i * 0.5, -74.0, 20.0))
    val ds = spark.createDataset(obsHome ++ obsTrip ++ obsJumpy)
    val stays = StayExtraction.extractStays(ds).collect()
    stays.map(_.user).toSet shouldBe Set(1L)
    stays.length shouldBe 1
    stays.head.n_obs shouldBe 20
    stays.head.end_ms - stays.head.start_ms shouldBe 19 * minute
    stays.head.lat shouldBe 40.0 +- 1e-3
  }

  it should "split stays at the minStay boundary" in {
    val minute = 60000L
    // 10-minute presence only: below the 15-minute default
    val obs = (0 until 10).map(i => StayExtraction.Obs(1L, i * minute, 40.0, -74.0, 20.0))
    StayExtraction.extractStays(spark.createDataset(obs)).count() shouldBe 0
  }

  it should "restore the site coordinate from identical-point merges after a 6-decimal round" in {
    // The q39 oracle precondition: on the synthetic geometry every
    // observation of an island shares one site coordinate (uniform 25 m
    // accuracy). The incremental Gaussian merge of identical points is a
    // running weighted mean — `(x·W + x·w)/(W+w)` re-rounds each step,
    // so the centroid can drift a few ulp off the site coordinate
    // (observed 1 ulp at lon −74.0) — but a 6-decimal round (0.1 m
    // grid, far above ulp scale and far below the 5 km site spacing)
    // restores it exactly, which is what the q39 oracle states.
    val minute = 60000L
    for (b <- Seq(0.0, 3.0)) {
      val siteLat = 40.0 + b * 0.05 // same double arithmetic as the entry
      val siteLon = -74.0 + b * 0.05
      val obs = (0 until 20).map(i =>
        StayExtraction.Obs(1L, i * minute, siteLat, siteLon, 25.0))
      val stays = StayExtraction.extractStays(spark.createDataset(obs)).collect()
      stays.length shouldBe 1
      math.abs(stays.head.lat - siteLat) should be < 1e-9
      math.abs(stays.head.lon - siteLon) should be < 1e-9
      // the exact identity the oracle relies on
      assert(BigDecimal(stays.head.lat).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).doubleValue == siteLat)
      assert(BigDecimal(stays.head.lon).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).doubleValue == siteLon)
    }
  }

  it should "threshold the Hellinger DISTANCE like the reference (H ≤ λ, not H² ≤ λ)" in {
    // Two 25 m-sigma points ~115.6 m apart: H² = 1 − exp(−d²/(8σ²))
    // ≈ 0.931, so H ≈ 0.965. With λ = 0.95 the reference scale
    // (H ≤ λ, `location/Clustering.scala:161`) REJECTS the merge while
    // the pre-fix greedy scale (H² ≤ λ) accepted it — this trace pins
    // the chosen semantics and keeps the two extractors on one scale.
    val dLat = 0.00104 // ≈ 115.6 m at any longitude
    val obs = Seq(
      StayExtraction.Obs(1L, 0L, 40.0, -74.0, 25.0),
      StayExtraction.Obs(1L, 60000L, 40.0 + dLat, -74.0, 25.0))
    val h2 = Geo.hellingerSq(40.0, -74.0, 25.0, 40.0 + dLat, -74.0, 25.0)
    h2 should be > (0.95 * 0.95) // λ² — new scale rejects...
    h2 should be < 0.95 // ...old scale would have merged
    val greedy = StayExtraction.extractStays(
      spark.createDataset(obs), minStayMs = 0L).collect()
    greedy.length shouldBe 2
    greedy.foreach(_.n_obs shouldBe 1)
    // (The windowed estimator merges this trace either way: its
    // acceptance re-checks members against the MERGED cluster — each
    // sits d/2 ≈ 58 m from the midpoint, H ≈ 0.70 ≤ λ — a structural
    // difference fixture-tested in WindowedStaysSpec, not a λ-scale one.)
  }

  "EventStayMatch" should "match only overlapping nearby pairs" in {
    import graft.enrich.EventStayMatch
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"), 40.0, -74.0),
      (2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00"), 45.0, -74.0), // far
      (3L, ts("2024-01-03 10:00:00"), ts("2024-01-03 12:00:00"), 40.0, -74.0)) // no overlap
      .toDF("event_id", "e_start", "e_end", "e_lat", "e_lon")
    val stays = Seq(
      (10L, ts("2024-01-01 11:00:00"), ts("2024-01-01 13:00:00"), 40.001, -74.0))
      .toDF("stay_id", "s_start", "s_end", "s_lat", "s_lon")
    val m = EventStayMatch.matchEvents(events, stays)
      .select("event_id", "stay_id").as[(Long, Long)].collect().toSet
    m shouldBe Set((1L, 10L))
  }
}

package graft.rdf

import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, GraftSparkInternals}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** `QuadStore.commit`: one materialization of a store version, split by
  * its measured bytes at the advisory partition size and planned from
  * its measured statistics. */
class CommitSpec extends SparkSpec {
  import spark.implicits._

  private val segs = Seq("AUTOMOBILE", "BUILDING", "MACHINERY")
  private val S = "http://schema.org/"

  /** A store built the way a store version is: a union of parts that each
    * keep their own partitions. */
  private lazy val raw: DataFrame = {
    def part(rows: Seq[(String, String, String, Int)], g: String): DataFrame =
      rows.map { case (s, p, o, k) => (s, p, o, k.toByte, null: String, null: String, g) }
        .toDF("s", "p", "o", "oKind", "oDt", "oLang", "g").repartition(3)
    val customers = (1 to 40).flatMap(k => Seq(
      (s"c:$k", "name", f"Customer#$k%09d", 2),
      (s"c:$k", "nation", s"n:${k % 5}", 0),
      (s"c:$k", "segment", segs(k % 3), 2)))
    val orders = (1 to 120).flatMap(o => Seq(
      (s"o:$o", "cust", s"c:${o % 40 + 1}", 0),
      (s"o:$o", "status", Seq("F", "O", "P")(o % 3), 2),
      (s"o:$o", "priority", s"${o % 5 + 1}-PRIO", 2)))
    val mails = (1 to 12).map(m => (s"mail:$m", S + "sender", s"agent:${m % 4}", 0))
    val same = Seq(("agent:0", "personal:sameAs", "agent:1", 0),
      ("agent:1", "personal:sameAs", "agent:2", 0))
    part(customers, "tpch").union(part(orders, "tpch"))
      .union(part(mails, "doc:mail")).union(part(same, "graft:ifp"))
  }

  private def stats(df: DataFrame) = df.queryExecution.optimizedPlan.stats

  /** UnsafeRow bytes of `df`'s rows, measured apart from `commit`. */
  private def unsafeBytes(df: DataFrame): Long = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(schema)
      it.map(r => toUnsafe(r).getSizeInBytes.toLong)
    }.fold(0L)(_ + _)
  }

  "commit" should "keep every row and carry the row count" in {
    val committed = QuadStore.commit(raw)
    committed.collect().toSeq.map(_.toString).sorted shouldBe
      raw.collect().toSeq.map(_.toString).sorted
    stats(committed).rowCount shouldBe Some(BigInt(raw.count()))
  }

  it should "carry the measured size, small enough to broadcast BGP joins" in {
    val committed = QuadStore.commit(raw)
    stats(committed).sizeInBytes shouldBe BigInt(unsafeBytes(raw))
    // a raw checkpoint inherits the estimate of the plan below it; the
    // committed size is what the rows take
    val joined = raw.join(raw.select($"s".as("o2"), $"o".as("x")), $"o" === $"o2")
      .select(raw.columns.map(raw(_)): _*)
    stats(joined.localCheckpoint()).sizeInBytes should be >
      stats(QuadStore.commit(joined)).sizeInBytes
    val plan = Sparql.select(committed,
      "SELECT ?o ?st WHERE { ?o <cust> <c:7> . ?o <status> ?st }")
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  it should "size its partitions by the advisory partition size" in {
    val bytes = unsafeBytes(raw)
    raw.rdd.getNumPartitions should be > 1
    // 64 MB default: the whole store fits one partition
    QuadStore.commit(raw).rdd.getNumPartitions shouldBe 1
    val advisory = bytes / 4 + 1
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString) {
      val down = QuadStore.commit(raw)
      down.rdd.getNumPartitions shouldBe ((bytes + advisory - 1) / advisory).toInt
      // growing a one-partition frame takes the same rule
      val up = QuadStore.commit(raw.coalesce(1))
      up.rdd.getNumPartitions shouldBe ((bytes + advisory - 1) / advisory).toInt
      up.count() shouldBe raw.count()
    }
  }

  it should "re-block a multi-partition store in the measuring job alone" in {
    // no exchange below the store, so the commit's own jobs are all the
    // jobs there are
    val store = spark.range(0, 400, 1, 6).select(
      concat(lit("s:"), $"id").as("s"), lit("p").as("p"), ($"id" % 7).cast("string").as("o"),
      lit(2.toByte).as("oKind"), lit(null).cast("string").as("oDt"),
      lit(null).cast("string").as("oLang"), lit("g").as("g"))
    store.rdd.getNumPartitions shouldBe 6
    var down: DataFrame = null
    JobCounter.jobsDuring(spark.sparkContext) { down = QuadStore.commit(store) } shouldBe 1
    down.rdd.getNumPartitions shouldBe 1
    down.count() shouldBe 400
    val advisory = unsafeBytes(store) / 9 + 1
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> advisory.toString) {
      var up: DataFrame = null
      JobCounter.jobsDuring(spark.sparkContext) { up = QuadStore.commit(store) } shouldBe 1
      up.rdd.getNumPartitions shouldBe 9
      up.collect().toSeq.map(_.toString).sorted shouldBe
        store.collect().toSeq.map(_.toString).sorted
    }
  }

  it should "run each shuffle map stage below its input as a job before the measuring job" in {
    // AQE materializes the repartition's map stage as its own job when the
    // plan is checkpointed; the measuring job follows
    val shuffled = spark.range(0, 400, 1, 2).select(
      concat(lit("s:"), $"id").as("s"), lit("p").as("p"), ($"id" % 7).cast("string").as("o"),
      lit(2.toByte).as("oKind"), lit(null).cast("string").as("oDt"),
      lit(null).cast("string").as("oLang"), lit("g").as("g")).repartition(3)
    var committed: DataFrame = null
    JobCounter.jobsDuring(spark.sparkContext) {
      committed = QuadStore.commit(shuffled)
    } shouldBe 2
    committed.count() shouldBe 400
  }

  it should "run no job when the version is already committed" in {
    val committed = QuadStore.commit(raw)
    var again: DataFrame = null
    JobCounter.jobsDuring(spark.sparkContext) {
      again = QuadStore.commit(committed)
    } shouldBe 0
    again should be theSameInstanceAs committed
    // a snapshot of a committed version reuses it as is
    JobCounter.jobsDuring(spark.sparkContext) {
      new SparqlEndpoint.Snapshot(committed).quads should be theSameInstanceAs committed
    } shouldBe 0
  }

  it should "answer the serve query shapes as the raw store does" in {
    val committed = QuadStore.commit(raw)
    def rows(df: DataFrame): Seq[String] = df.collect().toSeq.map(_.toString)
    val selects = Seq(
      "SELECT ?p ?o WHERE { <c:7> ?p ?o }" -> false,
      "SELECT ?o ?st WHERE { ?o <cust> <c:7> . ?o <status> ?st }" -> false,
      """SELECT ?seg (COUNT(?c) AS ?n) WHERE { ?c <nation> <n:2> .
        |  ?c <segment> ?seg } GROUP BY ?seg""".stripMargin -> false,
      "SELECT ?o ?pr WHERE { ?o <cust> <c:7> . ?o <priority> ?pr } ORDER BY ?o" -> true,
      s"""SELECT DISTINCT ?m WHERE { <mail:1> <${S}sender> ?a .
         |  ?a (<personal:sameAs>|^<personal:sameAs>)* ?b .
         |  ?m <${S}sender> ?b }""".stripMargin -> false)
    selects.foreach { case (q, ordered) =>
      val (want, got) = (rows(Sparql.select(raw, q)), rows(Sparql.select(committed, q)))
      want should not be empty
      if (ordered) got shouldBe want else got.sorted shouldBe want.sorted
    }
    Seq("""ASK { ?o <cust> <c:7> . ?o <status> "F" }""",
      """ASK { ?o <cust> <c:7> . ?o <status> "X" }""").foreach { q =>
      Sparql.ask(committed, q) shouldBe Sparql.ask(raw, q)
    }
    val construct = """CONSTRUCT { ?c <inSegment> "BUILDING" } WHERE {
                      |  ?c <nation> <n:1> . ?c <segment> "BUILDING" }""".stripMargin
    rows(Sparql.construct(committed, construct)).sorted shouldBe
      rows(Sparql.construct(raw, construct)).sorted
  }

  "measured" should "read the committed rows and bytes without a job" in {
    val committed = QuadStore.commit(raw)
    var got = (0L, 0L)
    JobCounter.jobsDuring(spark.sparkContext) {
      got = GraftSparkInternals.measured(committed)
    } shouldBe 0
    got shouldBe ((committed.count(), stats(committed).sizeInBytes.toLong))
    // a projection of a committed frame is planned from estimates again
    an[IllegalArgumentException] should be thrownBy
      GraftSparkInternals.measured(committed.select($"s"))
    an[IllegalArgumentException] should be thrownBy GraftSparkInternals.measured(raw)
  }

  "a loop that commits its self-joined state" should "plan from measured, not compounded, sizes" in {
    // x ⋈ x ⋈ x each round: an estimate inherited through the checkpoint
    // would be cubed every round (≈ S^(3^12) bytes by round 12)
    var x = GraftSparkInternals.commit(spark.range(0, 50).select($"id", ($"id" * 3).as("v")))
    def round(x: DataFrame): DataFrame = {
      val y = x.select($"id", $"v".as("v2"))
      val z = x.select($"id", $"v".as("v3"))
      x.join(y, "id").join(z, "id").select($"id", ($"v" + $"v2" - $"v3").as("v"))
    }
    for (_ <- 1 to 12) x = GraftSparkInternals.commit(round(x))
    GraftSparkInternals.measured(x)._1 shouldBe 50
    val next = round(x)
    val t0 = System.nanoTime()
    next.queryExecution.executedPlan // join selection reads the size estimates
    val planMs = (System.nanoTime() - t0) / 1e6
    next.queryExecution.optimizedPlan.stats.sizeInBytes should be < (BigInt(1) << 60)
    planMs should be < 1000.0
  }
}

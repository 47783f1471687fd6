package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r16 Widen hardening: the helper promises to NEVER run a job,
  * but its partition-count probe reads `df.rdd`, which under AQE
  * materializes every query stage of a plan that contains an exchange.
  * The probe must therefore fire only on provably exchange-free plans. */
class WidenSpec extends SparkSpec {
  import spark.implicits._

  private def jobsDuring(body: => Unit): Int =
    org.apache.spark.JobCounter.jobsDuring(spark.sparkContext)(body)

  "Widen" should "not trigger any job for a post-shuffle input" in {
    // an aggregate whose byte estimate is forced over the gate, so the
    // old code path would have consulted df.rdd — and, under AQE,
    // materialized the whole shuffle as a job
    val big = (1 to 1000).toDF("k")
      .withColumn("pad", lit("x" * 1000))
      .groupBy("k").agg(first(col("pad")).as("pad"))
    assert(jobsDuring { Widen(big, factor = 2, maxBytes = 1L) ne null } == 0,
      "Widen ran a job while gating a post-shuffle frame")
  }

  it should "still widen a large few-partition exchange-free scan" in {
    // narrow plan (scan + filter), byte gate forced OFF: the partition
    // probe is the only clause left and must still fire jobless
    val narrow = (1 to 64).toDF("k").coalesce(1).localCheckpoint()
      .where(col("k") > 0)
    var out: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { out = Widen(narrow, factor = 2, maxBytes = 1L) } == 0,
      "Widen ran a job while probing an exchange-free frame")
    assert(out.rdd.getNumPartitions >
      spark.sparkContext.defaultParallelism,
      "few-partition narrow input was not widened")
    out.select(sum(col("k"))).as[Long].head() shouldBe 64L * 65 / 2
  }

  it should "pass small inputs through the byte gate unchanged in rows" in {
    val df = (1 to 100).toDF("k")
    Widen(df, factor = 2).select(sum(col("k"))).as[Long].head() shouldBe
      100L * 101 / 2
  }
}

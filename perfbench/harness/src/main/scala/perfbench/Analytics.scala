package perfbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** `analytics`: the engine's headline queries, one driver thread, written
  * to the noop sink. One untimed cold pass writes every answer to parquet
  * for the DuckDB oracle check; timed warm passes follow. */
object Analytics {
  /** Warm passes a run times at least, whatever `seconds` says. */
  val MinPasses = 2

  /** Without a `queries` list, every headline query but `q207_ivf_serve`,
    * which writes its index under a fixed path outside the run directory. */
  def queryList(cfg: JsonNode): Seq[String] =
    if (cfg.has("queries")) Json.strings(cfg.get("queries"))
    else SparkEntry.benchQueries.filterNot(_ == "q207_ivf_serve")

  def session(): (SparkSession, GroupListener) = {
    val spark = GraftSession.builder("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    (spark, listener)
  }

  /** Release what a query left pinned (cached plans, checkpoint blocks),
    * outside the timed window, as `graft.Bench` does. */
  private def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(cfg: JsonNode): Result = {
    val r = new Result
    val data = cfg.get("data").asText()
    val out = java.nio.file.Paths.get(cfg.get("out").asText())
    val queries = queryList(cfg)
    val seconds = cfg.get("seconds").asDouble()

    // set-up: Spark session bring-up to the first answer, repeated
    var spark: SparkSession = null
    var listener: GroupListener = null
    val setups = (1 to cfg.get("setups").asInt()).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val (s, l) = session()
      spark = s
      listener = l
      noop(SparkEntry.queries(queries.head)(spark, data))
      Stats.secondsSince(t0)
    }
    r.metrics("setup_s") = Stats.median(setups)
    val sc = spark.sparkContext

    // cold pass: untimed, answers and their oracle SQL kept for
    // `tools/check_correctness.py`
    val answers = out.resolve("answers")
    val tCold = System.nanoTime()
    queries.foreach { q =>
      try SparkEntry.queries(q)(spark, data).write.mode("overwrite")
        .parquet(answers.resolve(q).toString)
      catch { case e: Exception => r.check(s"$q cold pass", ok = false, e.toString) }
      release(spark)
    }
    r.layers("analytics.cold_pass_s") = Stats.secondsSince(tCold)
    java.nio.file.Files.createDirectories(answers)
    java.nio.file.Files.writeString(answers.resolve("oracle_sql.json"),
      Json.write(SparkEntry.oracleSql.filter { case (q, _) => queries.contains(q) }))

    // warm passes for at least `seconds`; only whole passes count
    val before = listener.snapshot(sc)
    val passes = ArrayBuffer.empty[Seq[(String, Double)]]
    val t0 = System.nanoTime()
    while (passes.size < MinPasses || Stats.secondsSince(t0) < seconds) {
      val pass = passes.size
      passes += queries.map { q =>
        r.attempted += 1
        val tq = System.nanoTime()
        try {
          Trace.span(s"q.$q", s"$q#$pass") {
            val df = Trace.span("entry.build", s"$q#$pass", sc)(SparkEntry.queries(q)(spark, data))
            if (Trace.on) Trace.span("plans.plan", s"$q#$pass", sc)(df.queryExecution.executedPlan)
            Trace.span("exec", s"$q#$pass", sc)(noop(df))
          }
        } catch {
          case e: Exception =>
            r.failed += 1
            r.check(s"$q warm pass $pass", ok = false, e.toString)
        }
        val ms = (System.nanoTime() - tq) / 1e6
        release(spark)
        q -> ms
      }
    }
    val warmS = Stats.secondsSince(t0)
    val all = passes.flatten.map(_._2)
    val perQuery = queries.map(q => q -> Stats.median(passes.flatMap(_.collect { case (`q`, ms) => ms / 1e3 }).toSeq))
    // one pass at each query's median time: a stall in one query of one
    // pass does not move it
    r.metrics("pass_s") = perQuery.map(_._2).sum
    // a few samples of each query: the sample median follows the one query
    // in the middle, Harrell-Davis weighs its neighbours too
    r.metrics("read_p50_ms") = Stats.hdQuantile(all.toSeq.map(_ -> 1.0), 0.5)
    r.metrics("read_p95_ms") = Stats.hdQuantile(all.toSeq.map(_ -> 1.0), 0.95)
    r.metrics("read_qps") = all.size / warmS
    r.layers("analytics.passes") = passes.size
    r.layers("analytics.samples") = all.size

    val after = listener.snapshot(sc)
    val delta = after.map { case (g, w) => g -> (w - before.getOrElse(g, Work.zero)) }
    val n = passes.size.toDouble
    r.work("spark", delta.values.foldLeft(Work.zero)(_ + _), n)
    perQuery.foreach { case (q, sec) => r.layers(s"q.$q.s") = sec }
    if (Trace.on) {
      val spans = Trace.all
      def perPassMs(name: String) = spans.filter(_.name == name).map(_.ms).sum / n
      def jobs(group: String => Boolean) = delta.collect { case (g, w) if group(g) => w.jobs }.sum / n
      queries.foreach(q => r.layers(s"q.$q.jobs") = jobs(_.contains(s"@$q#")))
      r.layers("entry.build_s") = perPassMs("entry.build") / 1e3
      r.layers("entry.eager_jobs") = jobs(_.startsWith("entry.build@"))
      r.layers("plans.plan_s") = perPassMs("plans.plan") / 1e3
      r.layers("exec.s") = perPassMs("exec") / 1e3
      r.layers("op.build_ms") = perPassMs("entry.build")
      r.layers("op.plan_ms") = perPassMs("plans.plan")
      r.layers("op.exec_ms") = perPassMs("exec")
    }
    r
  }
}

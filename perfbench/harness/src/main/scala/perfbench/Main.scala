package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark harness. `run.py` writes one JSON config
  * (workload, seed, generated inputs, expected answers) and reads back one
  * JSON result; the harness only ever sees the generated inputs.
  *
  * Usage: perfbench.Main <config.json> <result.json> */
object Main {
  def main(args: Array[String]): Unit = {
    val cfg = new ObjectMapper().readTree(Files.readString(Paths.get(args(0))))
    val out = Paths.get(args(1))
    Trace.on = cfg.path("trace").asBoolean(false)
    val env = Env.start()
    val result = cfg.get("workload").asText() match {
      case "analytics" => Analytics.run(cfg)
      case "serve" => Serve.run(cfg)
      case "sync" => Sync.run(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val envOut = env.finish(spark)
    spark.foreach(_.stop())
    if (Trace.on) Trace.write(out.resolveSibling("spans.jsonl"))
    Files.write(out, Json.write(result.toMap ++ Map("env" -> envOut))
      .getBytes(StandardCharsets.UTF_8))
    // endpoint and Spark pools are stopped; exit even if a library thread
    // is left behind
    sys.exit(0)
  }
}

/** What a workload reports: end-to-end metrics, per-layer metrics, and
  * the outcome of every correctness check. */
final class Result {
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    checks += Map("name" -> name, "ok" -> ok, "detail" -> (if (ok) "" else detail))
    ok
  }

  def work(prefix: String, w: Work, perPass: Double = 1.0): Unit = {
    layers(s"$prefix.jobs") = w.jobs / perPass
    layers(s"$prefix.task_s") = w.taskS / perPass
    layers(s"$prefix.gc_s") = w.gcS / perPass
    layers(s"$prefix.shuffle_read_mb") = w.shuffleReadMb / perPass
    layers(s"$prefix.shuffle_write_mb") = w.shuffleWriteMb / perPass
    layers(s"$prefix.spill_mb") = w.spillMb / perPass
  }

  def toMap: Map[String, Any] = Map(
    "metrics" -> metrics.toMap, "layers" -> layers.toMap, "checks" -> checks.toSeq,
    "attempted" -> attempted, "failed" -> failed)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same definition on every metric). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Harrell-Davis quantile of weighted samples (value, weight): a
    * weighted mean of every sample, by the Beta((n+1)q, (n+1)(1-q)) mass
    * over its share of the total weight, n the effective sample size
    * (sum w)^2 / sum w^2. It estimates the same quantile as the sample
    * quantile, with less variance when few samples sit near it. */
  def hdQuantile(xs: Seq[(Double, Double)], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sortBy(_._1)
    val total = s.map(_._2).sum
    val n = total * total / s.map(x => x._2 * x._2).sum
    val (a, b) = ((n + 1) * q, (n + 1) * (1 - q))
    val cdf = s.scanLeft(0.0)(_ + _._2).map(c => Beta.regularizedBeta(math.min(c / total, 1.0), a, b))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)._1).sum
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }

  def strings(n: JsonNode): Seq[String] =
    if (n == null) Nil else n.elements().asScala.map(_.asText()).toSeq

  def rows(n: JsonNode): Seq[Seq[String]] =
    if (n == null) Nil else n.elements().asScala.map(strings).toSeq
}

/** The run's environment, stamped into every receipt: cores, shuffle
  * partitions, heap limit, host steal and load over the run (the same
  * `/proc/stat` accounting as `graft.Bench`), and the peak RSS. */
final class Env(steal0: Long, ticks0: Long, load0: String) {
  def finish(spark: Option[SparkSession]): Map[String, Any] = {
    val (steal1, ticks1) = Env.cpuTicks()
    val stealPct =
      if (ticks1 <= ticks0 || steal0 < 0) -1.0 else (steal1 - steal0) * 100.0 / (ticks1 - ticks0)
    val args = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    Map(
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "spark_master" -> spark.map(_.sparkContext.master).getOrElse(""),
      "shuffle_partitions" -> spark.map(_.conf.get("spark.sql.shuffle.partitions")).getOrElse(""),
      "xmx" -> args.find(_.startsWith("-Xmx")).getOrElse(""),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "steal_pct" -> stealPct,
      "loadavg_start" -> load0,
      "loadavg_end" -> Env.loadavg(),
      "peak_rss_mb" -> Env.peakRssMb())
  }
}

object Env {
  def start(): Env = { val (s, t) = cpuTicks(); new Env(s, t, loadavg()) }

  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).get.trim.split("\\s+")
      (f(8).toLong, f.drop(1).map(_.toLong).sum)
    } catch { case _: Exception => (-1L, -1L) }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: Exception => "" }

  /** VmHWM: the process's peak resident set, in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}

package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import com.sun.management.GarbageCollectionNotificationInfo

import graft.GraftSession

/** Command-line settings, passed by `run.py`. */
final case class Settings(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
    sfDir: String, workDir: String, expected: String, manifest: String,
    warmupManifest: String, out: String) {
  /** `--seconds` buys one timed pass (or sweep) per 5 s; on a 4-core box
    * each workload's pass takes 4-6 s. A fixed count, rather than passes
    * until the time is up, keeps a faster box from timing more, and
    * warmer, passes. */
  def timedPasses: Int = math.max(1, math.ceil(seconds / 5.0).toInt)

  /** Untraced/traced pairs in a traced run. */
  def tracedPairs: Int = math.max(1, timedPasses / 2)
}

/** What one run reports back. `metrics` holds the end-to-end figures, or in
  * a traced run the per-layer ones. */
final case class Outcome(attempted: Int, failed: Int, problems: Seq[String],
    metrics: Map[String, Double], detail: Map[String, Any] = Map.empty)

/** Peak driver heap still live after a collection, over the measured part
  * of a run, read from the collectors' notifications. The raw pool peak
  * would mostly measure when the collector chose to run. */
object Heap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  @volatile private var liveMax = 0L

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (live > liveMax) liveMax = live
        }
      }, null, null)
    case _ => ()
  }

  def reset(): Unit = liveMax = 0L

  /** A closing full collection (after all timing) gives a reading even
    * when no collection ran while measuring. */
  def liveMb: Double = {
    System.gc()
    math.max(liveMax, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  }
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Harrell-Davis estimate of the median: every order statistic weighted
    * by a Beta((n+1)/2, (n+1)/2) density. Latencies of a fixed query mix
    * cluster per query, and the plain median jumps across the gap between
    * the two middle queries; this estimate moves smoothly instead. */
  def hdMedian(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    val a = (n + 1) / 2.0
    val steps = 64
    def density(x: Double) = math.pow(x * (1 - x), a - 1)
    // Midpoint-rule mass of each interval [(i-1)/n, i/n]; normalised below.
    val w = (0 until n).map { i =>
      (0 until steps).map(k => density((i + (k + 0.5) / steps) / n)).sum
    }
    s.zip(w).map { case (x, wi) => x * wi }.sum / w.sum
  }
}

object Json {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def write(path: String, v: Any): Unit = mapper.writeValue(new File(path), v)
}

/** Benchmark entry point; see perfbench/README.md. `run.py` builds this
  * together with the engine's sources and calls it with every setting
  * spelled out, so this side holds no defaults of its own. */
object Main {

  def parse(args: Array[String]): Settings = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Settings(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", get("cores").toInt, get("sf-dir"), get("work-dir"),
      get("expected"), kv.getOrElse("manifest", ""), kv.getOrElse("warmup-manifest", ""),
      get("out"))
  }

  def main(args: Array[String]): Unit = {
    val s = parse(args)
    val t0 = System.nanoTime()
    // run.py moves every path Spark writes to under the run's work
    // directory through spark.* system properties, which SparkConf reads.
    val spark = GraftSession.local(s.cores.toString)
    val outcome =
      try s.workload match {
        case "query_short" | "query_heavy" => QueryWorkload.run(spark, s, t0)
        case "ingest_sweep" => IngestWorkload.run(spark, s, t0)
        case other => throw new IllegalArgumentException(s"unknown workload: $other")
      } finally spark.stop()
    Json.write(s.out, Map(
      "correct" -> (outcome.problems.isEmpty && outcome.failed == 0),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "problems" -> outcome.problems,
      "metrics" -> outcome.metrics,
      "detail" -> outcome.detail))
  }
}

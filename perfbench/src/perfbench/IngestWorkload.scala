package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline._

/** `ingest_sweep`: the reference's own job. A seeded Unity export tree is
  * swept by `IngestJob.runAll()` into an empty warehouse and checkpoint
  * (the backfill), then swept again, which must load nothing (the cron
  * steady state). The job is built with its primary constructor around
  * wrapping boundaries that time each call from outside. */
object IngestWorkload {

  final case class Chain(appId: String, report: String, lines: Long, lastJob: Long)
  final case class Manifest(root: String, tenants: Seq[TenantConfig], reports: Seq[String],
      chains: Seq[Chain], ndjsonBytes: Long)

  def readManifest(path: String): Manifest = {
    val j = Json.mapper.readTree(new File(path))
    Manifest(
      j.get("export_root").asText,
      j.get("tenants").elements.asScala.map(t =>
        TenantConfig(t.get("app_id").asText, t.get("dataset").asText)).toSeq,
      j.get("report_types").elements.asScala.map(_.asText).toSeq,
      j.get("chains").elements.asScala.map(c => Chain(c.get("app_id").asText,
        c.get("report").asText, c.get("lines").asLong, c.get("last_job").asLong)).toSeq,
      j.get("ndjson_bytes").asLong)
  }

  /** Per-(app, report) first-call start and last-call end, kept in every
    * run (traced or not): they give the per-chain latency. */
  final class Chains {
    private val span = mutable.Map.empty[(String, String), (Long, Long)]
    def touch[T](app: String, report: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          val (s, e) = span.getOrElse((app, report), (t0, t1))
          span((app, report)) = (math.min(s, t0), math.max(e, t1))
        }
      }
    }
    def seconds: Seq[Double] = synchronized(span.values.map { case (s, e) => (e - s) / 1e9 }.toSeq)
    def clear(): Unit = synchronized(span.clear())
  }

  final class Client(inner: ExportClient, t: Tracer, c: Chains) extends ExportClient {
    private var readyAt = 0L
    def takeReadyAt(): Long = { val r = readyAt; readyAt = 0L; r }

    override def requestExport(appId: String, jobType: String, from: Option[Long]): Option[Long] =
      c.touch(appId, jobType)(t.span("pipeline.export.request")(inner.requestExport(appId, jobType, from)))

    override def isReady(appId: String, jobType: String, jobId: Long): Boolean = {
      val ready = c.touch(appId, jobType)(t.span("pipeline.export.poll")(inner.isReady(appId, jobType, jobId)))
      if (ready) {
        // Until the sink is called, the job reads and counts the batch.
        readyAt = t.now()
        t.relabel("pipeline.read_count")
      }
      ready
    }

    override def jobDir(appId: String, jobType: String, jobId: Long): String =
      inner.jobDir(appId, jobType, jobId)
  }

  final class Store(inner: CheckpointStore, t: Tracer, c: Chains) extends CheckpointStore {
    override def findPreviousJobId(jobType: String, appId: String): Option[Long] =
      c.touch(appId, jobType)(t.span("pipeline.checkpoint.lookup")(inner.findPreviousJobId(jobType, appId)))

    override def append(e: CheckpointEntry): Unit =
      c.touch(e.app_id, e.job_type)(t.span("pipeline.checkpoint.append")(inner.append(e)))
  }

  final class Sink(inner: WarehouseSink, t: Tracer, c: Chains, client: Client,
      appOf: String => String) extends WarehouseSink {
    override def load(df: DataFrame, dataset: String, table: String): Unit = {
      val ready = client.takeReadyAt()
      if (t.enabled && ready > 0) t.record("pipeline.read_count", ready, t.now())
      c.touch(appOf(dataset), table)(t.span("pipeline.sink.load")(inner.load(df, dataset, table)))
    }
  }

  final class Notify(inner: Notifier, t: Tracer) extends Notifier {
    override def notify(channel: String, message: String): Unit =
      t.span("pipeline.notify")(inner.notify(channel, message))
  }

  /** Data files (not `_SUCCESS`/checksum files) under `dir`: count, bytes. */
  def dataFiles(dir: File): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith("_") || f.getName.startsWith(".")) Nil
      else Seq(f)
    val fs = walk(dir)
    (fs.size, fs.map(_.length).sum)
  }

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete(): Unit
  }

  final case class Sweep(traced: Boolean, backfillS: Double, rerunS: Double,
      chainS: Seq[Double], rows: Long, storedBytes: Long, storedFiles: Int, ckptFiles: Int)

  def run(spark: SparkSession, s: Settings, sessionStartNs: Long): Outcome = {
    val problems = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0
    val tracer = new Tracer(spark, s"${s.workload}-seed${s.seed}")
    val chains = new Chains

    /** One backfill + rerun into a fresh warehouse and checkpoint. */
    def sweep(m: Manifest, dir: File, traced: Boolean, deepCheck: Boolean): Sweep = {
      rmrf(dir)
      val config = PipelineConfig(m.root, new File(dir, "warehouse").getPath,
        new File(dir, "checkpoints").getPath, m.tenants, m.reports)
      val appOf = m.tenants.map(x => x.dataset -> x.appId).toMap
      val client = new Client(new LocalDirExportClient(config.exportRoot), tracer, chains)
      val store = new Store(new ParquetCheckpointStore(spark, config.checkpointPath), tracer, chains)
      val recorded = new RecordingNotifier
      val notifier = new Notify(recorded, tracer)
      val job = new IngestJob(spark, config, store,
        new Sink(new ParquetWarehouseSink(config.warehouseRoot), tracer, chains, client, appOf),
        notifier, client, new ExportPoller(client, pollIntervalMs = 0L, sleep = _ => ()))

      chains.clear()
      tracer.enabled = traced
      val b0 = System.nanoTime()
      val loaded = tracer.span("sweep.backfill")(job.runAll())
      val b1 = System.nanoTime()
      val chainS = chains.seconds
      val again = tracer.span("sweep.rerun")(job.runAll())
      val r1 = System.nanoTime()
      tracer.enabled = false

      val want = m.chains.map(c => (c.appId, c.report) -> c.lines).toMap
      attempted += loaded.size + again.size
      loaded.foreach { case (k, n) =>
        if (n < 0) { failed += 1; problems += s"backfill $k failed" }
        else if (!want.get(k).contains(n)) problems += s"backfill $k loaded $n rows, generated ${want.get(k)}"
      }
      again.foreach { case (k, n) =>
        if (n < 0) { failed += 1; problems += s"rerun $k failed" }
        else if (n != 0) problems += s"rerun $k loaded $n rows, want 0"
      }
      if (loaded.keySet != want.keySet) problems += s"swept ${loaded.keySet.size} chains, generated ${want.size}"
      problems ++= recorded.messages.map { case (ch, msg) => s"notified [$ch]: $msg" }

      if (deepCheck) {
        // The warehouse itself, not the job's own counts: rows per
        // (tenant, report) and each checkpoint head.
        val heads = new ParquetCheckpointStore(spark, config.checkpointPath)
        m.chains.foreach { c =>
          attempted += 1
          val ds = m.tenants.find(_.appId == c.appId).get.dataset
          val rows = spark.read.parquet(s"${config.warehouseRoot}/$ds/${c.report}").count()
          val head = heads.findPreviousJobId(c.report, c.appId)
          if (rows != c.lines) problems += s"warehouse ${c.appId}/${c.report}: $rows rows, generated ${c.lines}"
          if (!head.contains(c.lastJob)) problems += s"checkpoint ${c.appId}/${c.report}: head $head, want ${c.lastJob}"
        }
      }
      val (files, bytes) = dataFiles(new File(config.warehouseRoot))
      val (ckptFiles, _) = dataFiles(new File(config.checkpointPath))
      rmrf(dir)
      Sweep(traced, (b1 - b0) / 1e9, (r1 - b1) / 1e9, chainS,
        loaded.values.filter(_ > 0).sum, bytes, files, ckptFiles)
    }

    val work = new File(s.workDir, "sweeps")
    val m = readManifest(s.manifest)
    // Set-up: session start through one discarded sweep of a small tree and
    // one of the measured tree, which also reads the warehouse back to
    // check it; as with the query workloads, the first full sweep is still
    // warming up.
    sweep(readManifest(s.warmupManifest), work, traced = false, deepCheck = false)
    sweep(m, work, traced = false, deepCheck = true)
    val setupS = (System.nanoTime() - sessionStartNs) / 1e9

    val sweeps = mutable.ArrayBuffer.empty[Sweep]
    val l = new LayerListener
    Heap.reset()
    if (!s.trace) {
      for (_ <- 1 to s.timedPasses) sweeps += sweep(m, work, traced = false, deepCheck = false)
    } else {
      for (_ <- 1 to s.tracedPairs) {
        sweeps += sweep(m, work, traced = false, deepCheck = false)
        sweeps += l.during(spark)(sweep(m, work, traced = true, deepCheck = false))
      }
    }
    // Every traced sweep sits between two untraced ones.
    if (s.trace) sweeps += sweep(m, work, traced = false, deepCheck = false)
    val heapMb = Heap.liveMb

    val plain = sweeps.filterNot(_.traced).toSeq
    val chainS = plain.flatMap(_.chainS)
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> Stats.median(plain.map(x => x.backfillS + x.rerunS)),
      "query_p50_s" -> Stats.hdMedian(chainS),
      "rows_per_s" -> Stats.median(plain.map(x => x.rows / x.backfillS)),
      "heap_peak_mb" -> heapMb)

    val layers = if (!s.trace) Map.empty[String, Double] else {
      val traced = sweeps.filter(_.traced).toSeq
      val n = traced.size.toDouble
      val parseLayers = Set("pipeline.read_count", "pipeline.sink.load")
      val scanned = l.tasks.filter(t => parseLayers(t.layer)).map(_.recordsIn).sum
      val windows = Layers.windowsMs(tracer.named("sweep.backfill") ++ tracer.named("sweep.rerun"))
      Layers.split(l, windows, traced.size) ++ Layers.zeros(Layers.QueryLayers) ++ Map(
        "pipeline.export.request_s" -> tracer.total("pipeline.export.request") / n,
        "pipeline.export.request_calls" -> tracer.named("pipeline.export.request").size / n,
        "pipeline.export.poll_calls" -> tracer.named("pipeline.export.poll").size / n,
        "pipeline.read_count_s" -> tracer.total("pipeline.read_count") / n,
        "pipeline.sink.load_s" -> tracer.total("pipeline.sink.load") / n,
        "sink.bytes_written" -> traced.map(_.storedBytes).sum / n,
        "sink.files_written" -> traced.map(_.storedFiles).sum / n,
        "pipeline.parse_passes" -> scanned.toDouble / traced.map(_.rows).sum,
        "pipeline.chain_overlap" -> traced.map(_.chainS.sum).sum / traced.map(_.backfillS).sum,
        "pipeline.checkpoint.lookup_s" -> tracer.total("pipeline.checkpoint.lookup") / n,
        "pipeline.checkpoint.lookup_calls" -> tracer.named("pipeline.checkpoint.lookup").size / n,
        "pipeline.checkpoint.append_s" -> tracer.total("pipeline.checkpoint.append") / n,
        "pipeline.checkpoint.append_calls" -> tracer.named("pipeline.checkpoint.append").size / n,
        "pipeline.checkpoint.files" -> traced.map(_.ckptFiles).sum / n,
        "pipeline.notify_calls" -> tracer.named("pipeline.notify").size / n,
        "pipeline.rerun_s" -> Stats.median(plain.map(_.rerunS)),
        "pipeline.stored_bytes_ratio" -> plain.head.storedBytes.toDouble / m.ndjsonBytes,
        "trace.overhead_ratio" -> Stats.median(traced.map(x => x.backfillS + x.rerunS)) /
          Stats.median(plain.map(x => x.backfillS + x.rerunS)))
    }
    Outcome(attempted, failed, problems.toSeq, if (s.trace) layers else e2e,
      Map("end_to_end" -> e2e, "sweeps" -> sweeps.size, "samples" -> chainS.size,
        "spans" -> tracer.spans, "self_times" -> tracer.selfTimes))
  }
}

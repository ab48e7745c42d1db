package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** `query_short` and `query_heavy`: registry queries through
  * `SparkEntry.queries(name)(spark, sfDir)`, executed on the `noop` sink by
  * one closed-loop client, in a seed-permuted order. */
object QueryWorkload {

  /** Sub-second rows, one per pack family: the driver side (DataFrame
    * construction, schema inference, Catalyst, job scheduling) is at least
    * half of each. */
  val Short: Seq[String] = Seq(
    "q_filter_null", "q_agg_having", "q_join_inner", "q_sort_multi", "q_win_lag",
    "q_composite_q6", "q_text_quality", "q_json_extract", "q_scan_ndjson", "q_scan_csv_header",
    "q_dedup_exact", "q_subquery_in")

  /** Multi-second, executor-bound, non-iterative rows: the single-row-group
    * lineitem scan and aggregate, the exact Jaccard dedup (a source-blocked
    * distinct-token equi-join and aggregate), and the label-blocked
    * all-pairs cosine join, which runs the codegen'd `CosineSimilarity`
    * expression behind `BandGuard.exactBlockGuard`. */
  val Heavy: Seq[String] = Seq("q_composite_q1", "q_dedup_jaccard", "q_sim_join")

  /** The fixture tables the `tables.load` probe reads through `Tables`. */
  val ProbeTables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Order-insensitive output digest: row count plus the decimal sum of a
    * per-row xxhash64. Floating-point values enter the hash at 10
    * significant digits, so last-bit differences from the order in which
    * partial aggregates merge do not count as a different answer. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      normalise(col(s"c$i"), f.dataType)
    }
    val row = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(e, _) => hasFloat(e)
    case StructType(fs) => fs.exists(f => hasFloat(f.dataType))
    case _: MapType => true
    case _ => false
  }

  private def normalise(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9e", c)
    case ArrayType(e, _) if hasFloat(e) => transform(c, x => normalise(x, e))
    case StructType(fs) if hasFloat(t) =>
      when(c.isNull, lit(null)).otherwise(
        struct(fs.toSeq.map(f => normalise(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(k, v, _) =>
      normalise(array_sort(map_entries(c)), ArrayType(StructType(Seq(
        StructField("key", k), StructField("value", v)))))
    case _ => c
  }

  /** Pinned outputs: query name → (rows, digest). */
  def readExpected(path: String): Map[String, (Long, String)] = {
    val root = Json.mapper.readTree(new File(path)).get("queries")
    root.fieldNames.asScala.map { n =>
      val q = root.get(n)
      n -> (q.get("rows").asLong, q.get("digest").asText)
    }.toMap
  }

  def run(spark: SparkSession, s: Settings, sessionStartNs: Long): Outcome = {
    val names = if (s.workload == "query_short") Short else Heavy
    val rng = new scala.util.Random(s.seed)
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0

    // Set-up: the discarded warm-up pass doubles as the output check,
    // one digest per query, which is also every query's first execution.
    val expected = readExpected(s.expected)
    val got = mutable.LinkedHashMap.empty[String, (Long, String)]
    val checkS = mutable.LinkedHashMap.empty[String, Double]
    rng.shuffle(names).foreach { n =>
      val c0 = System.nanoTime()
      try {
        val out = digest(SparkEntry.queries(n)(spark, s.sfDir))
        got(n) = out
        expected.get(n) match {
          case Some(want) if want == out => ()
          case Some(want) => problems += s"$n: got rows=${out._1} digest=${out._2}, pinned $want"
          case None => problems += s"$n: no pinned output; got rows=${out._1} digest=${out._2}"
        }
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"$n: check failed: ${e.getMessage}"
      }
      checkS(n) = (System.nanoTime() - c0) / 1e9
    }
    val passRows = got.values.map(_._1).sum.toDouble

    val tracer = new Tracer(spark, s"${s.workload}-seed${s.seed}")
    final case class Pass(traced: Boolean, wallS: Double, latencies: Seq[(String, Double)])
    val passes = mutable.ArrayBuffer.empty[Pass]
    // Every check and every execution counts as attempted.
    var attempted = names.size
    // Analysis done while a query is built runs outside any execution, so
    // the QueryExecutionListener never sees it: read it off the DataFrame.
    var buildAnalysisS = 0.0

    def pass(traced: Boolean): Pass = {
      tracer.enabled = traced
      val order = rng.shuffle(names)
      val p0 = System.nanoTime()
      val lat = order.map { n =>
        val q0 = System.nanoTime()
        attempted += 1
        try tracer.span(s"query/$n") {
          val df = tracer.span("queries.build")(SparkEntry.queries(n)(spark, s.sfDir))
          if (traced) df.queryExecution.tracker.phases.get("analysis")
            .foreach(p => buildAnalysisS += p.durationMs / 1e3)
          tracer.span("exec")(df.write.mode("overwrite").format("noop").save())
        } catch {
          case e: Exception =>
            failed += 1
            problems += s"$n: ${e.getMessage}"
        }
        n -> (System.nanoTime() - q0) / 1e9
      }
      tracer.enabled = false
      Pass(traced, (System.nanoTime() - p0) / 1e9, lat)
    }

    // Set-up ends with one more discarded pass: right after the check pass
    // the JIT is still warming, and the next pass ran up to half again
    // slower than the ones after it.
    pass(traced = false)
    val setupS = (System.nanoTime() - sessionStartNs) / 1e9

    Heap.reset()
    var layers = Map.empty[String, Double]
    if (!s.trace) {
      for (_ <- 1 to s.timedPasses) passes += pass(traced = false)
    } else {
      // Traced run: alternate untraced and traced passes; the traced ones
      // give the split, the comparison gives the tracing overhead.
      val probe = new LayerListener
      probe.during(spark) {
        tracer.enabled = true
        ProbeTables.foreach(t => tracer.span("tables.load")(Tables.load(spark, s.sfDir, t)))
        tracer.enabled = false
      }
      val l = new LayerListener
      for (_ <- 1 to s.tracedPairs) {
        passes += pass(traced = false)
        passes += l.during(spark)(pass(traced = true))
      }
      // Close with an untraced pass, so every traced pass sits between two
      // untraced ones and warm-up does not flatter either side.
      passes += pass(traced = false)
      l.phases("analysis") += buildAnalysisS
      val nTraced = passes.count(_.traced)
      layers = Layers.split(l, Layers.windowsMs(tracer.named("exec")), nTraced) ++
        Map(
          "queries.build_s" -> tracer.total("queries.build") / nTraced,
          "queries.build_jobs" -> l.jobs.count(_ == "queries.build").toDouble / nTraced,
          "tables.load_s" -> tracer.total("tables.load"),
          "tables.load_jobs" -> probe.jobs.size.toDouble,
          "trace.overhead_ratio" -> Stats.median(passes.filter(_.traced).map(_.wallS)) /
            Stats.median(passes.filterNot(_.traced).map(_.wallS))) ++
        Layers.zeros(Layers.PipelineLayers)
    }
    val heapMb = Heap.liveMb

    val plain = passes.filterNot(_.traced).toSeq
    val perQuery = plain.flatMap(_.latencies).groupBy(_._1)
      .map { case (n, xs) => n -> Stats.hdMedian(xs.map(_._2)) }
    // A pass at every query's median latency: a slow outlier execution
    // weighs little per query, not only when it falls in the same pass as
    // others. Harrell-Davis, as the few samples per query would make the
    // plain median jump between them.
    val wall = perQuery.values.sum
    val lat = plain.flatMap(_.latencies.map(_._2))
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> wall,
      "query_p50_s" -> Stats.hdMedian(lat),
      "rows_per_s" -> passRows / wall,
      "heap_peak_mb" -> heapMb)
    Outcome(attempted, failed, problems.toSeq, if (s.trace) layers else e2e,
      Map("end_to_end" -> e2e, "passes" -> passes.size, "samples" -> lat.size,
        "check_s" -> checkS.toMap,
        "per_query_s" -> perQuery,
        "spans" -> tracer.spans, "self_times" -> tracer.selfTimes))
  }
}

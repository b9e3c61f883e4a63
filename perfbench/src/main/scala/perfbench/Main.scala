package perfbench

import graft.enrichment.{EnrichmentCache, NvdConfig}
import graft.io.TableIO
import graft.pipeline.{PipelineConfig, Pipelines}
import graft.schemas.AdvisorySchemas
import graft.streaming.{SnapshotRelation, SnapshotUpsert}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The pipeline benchmark's driver. One process = one workload run:
  *
  *   1. set-up (timed, three times, median): generate the inputs and
  *      build the prior prod and cache state;
  *   2. daily phase: consecutive `Pipelines.run` calls, one simulated
  *      day apart, each checked against the generated world's model;
  *   3. lookup phase: one closed-loop client reading the committed prod
  *      by `(cve_id, package)` and by `cve_id`, each result checked.
  *
  * With `--trace 1` the per-layer collector is attached, the stages are
  * called one at a time inside spans, and untraced runs alternate with
  * traced ones to measure the tracing overhead.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --trace-out FILE
  * The last stdout line is the result JSON. */
object Main {
  /** share of `--seconds` the daily phase gets; lookups get the rest */
  val DailyShare = 0.7
  /** runs every process makes: the first and one warm run. A traced
    * process makes four warm runs, untraced-traced-traced-untraced, so
    * the tracing overhead is taken free of the warm-up trend. */
  val MinRuns = 2
  val MinTracedRuns = 5
  val MinLookups = 20
  /** lookups of each kind made before the timed ones, so the reader
    * path is compiled as in a long-running reader (latency still falls
    * over the first ten or so) */
  val WarmLookups = 15
  val MaxLookups = 400
  val SetupReps = 3

  final case class Args(workload: Workload, seed: Long, seconds: Double,
      trace: Boolean, work: File, traceOut: Option[File])

  def parseArgs(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(Workload.byName(need("workload")), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      },
      new File(need("work")), m.get("trace-out").map(new File(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, a.work)
    val sessionSeconds = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val result = new Bench(spark, a, cores, sessionSeconds).run()
      println(result)
    } finally spark.stop()
  }

  /** The session the advisory app builds, on every core of this box. */
  def session(cores: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The median of the samples, or None without one: a metric whose
    * operations all failed is reported as null, not as a fast 0. */
  def medianOf(xs: Seq[Double]): Option[Double] = if (xs.isEmpty) None else Some(median(xs))

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** bytes written through Hadoop's local file system since start */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** a `/proc` field given in kB, in MB */
  private def procMb(file: String, field: String): Double = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().collectFirst { case l if l.startsWith(field) =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(0.0)
    finally src.close()
  }

  def peakRssMb(): Double = procMb("/proc/self/status", "VmHWM:")
  def memTotalMb(): Double = procMb("/proc/meminfo", "MemTotal:")

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** One daily run's measurements. */
final case class RunRecord(day: Int, traced: Boolean, seconds: Double,
    toEnrich: Int, requests: Seq[Request], bytesWritten: Long, span: Span, ok: Boolean)

/** One run's raw outcome: prod as the checks read it, or the error. */
final case class Day(plan: RunPlan, rows: Either[Exception, Seq[Row]], span: Span,
    requests: Seq[Request], bytesWritten: Long)

/** One lookup's measurements. */
final case class LookupRecord(kind: String, timed: Boolean, seconds: Double, rows: Int,
    span: Span, ok: Boolean)

final class Bench(spark: SparkSession, a: Main.Args, cores: Int, sessionSeconds: Double) {
  import Main._

  private val w = a.workload
  private val tracer = new Tracer(spark)
  private val problems = mutable.ArrayBuffer.empty[String]
  private var attempted = 0
  private var failed = 0

  private def config(base: File, runId: String): PipelineConfig = {
    val root = base.getAbsolutePath
    PipelineConfig.fromDefaults(runId, root).copy(
      cacheTtlHours = World.CacheTtlHours,
      prodSnapshot = w.prodSnapshot)
  }

  private def prodPath(cfg: PipelineConfig) = s"${cfg.prodPath}/state_machine/cve_state_machine"
  private[perfbench] def prodDir(base: File): String = prodPath(config(base, "lookup"))

  private val nvd = NvdConfig(apiUrl = BenchTransport.NvdUrl, apiKey = Some("bench"))

  /** Generate the world and write the prior prod and cache state. */
  private[perfbench] def setUp(base: File): (World, DataFrame) = {
    val world = new World(w, a.seed)
    val cfg = config(base, "setup")
    val prior = spark.createDataFrame(world.priorProdRows.asJava, AdvisorySchemas.cveStateMachine)
    if (w.prodSnapshot)
      SnapshotUpsert.upsertBatchSnapshot(prior, prodPath(cfg),
        keys = Seq("cve_id", "package"), orderCol = "", nBuckets = cfg.prodBuckets)
    else
      TableIO.writeTable(prior, prodPath(cfg), AdvisorySchemas.cveStateMachine,
        partitions = cfg.outputPartitions)
    EnrichmentCache.writeCache(spark,
      spark.createDataFrame(world.priorCacheRows.asJava, AdvisorySchemas.enrichmentCache),
      cfg.cachePath)
    val overrides = spark.createDataFrame(world.overrideRows.asJava,
      AdvisorySchemas.notApplicableCves)
    (world, overrides)
  }

  def run(): String = {
    // ---- set-up, several times; the last one's state is used
    val setups = (0 until SetupReps).map { i =>
      val base = new File(a.work, s"state-$i")
      val t = System.nanoTime()
      val out = setUp(base)
      ((System.nanoTime() - t) / 1e9, base, out)
    }
    setups.init.foreach { case (_, base, _) => deleteTree(base) }
    val (_, base, (world, overrides)) = setups.last
    val setupSeconds = sessionSeconds + median(setups.map(_._1))
    System.err.println(f"[perfbench] session $sessionSeconds%.3f s, set-up " +
      setups.map(s => f"${s._1}%.3f").mkString(", ") + " s")

    val listener = new LayerListener({
      val c = config(base, "x")
      Seq("staging" -> c.stagingPath, "cache" -> c.cachePath, "prod" -> c.prodPath)
    })
    if (a.trace) { listener.attach(spark); tracer.listener = Some(listener) }

    // ---- daily phase
    val runs = mutable.ArrayBuffer.empty[RunRecord]
    val phaseStart = System.nanoTime()
    def elapsed = (System.nanoTime() - phaseStart) / 1e9
    while (runs.size < World.MaxRuns &&
        (runs.size < (if (a.trace) MinTracedRuns else MinRuns) ||
          elapsed < a.seconds * DailyShare)) {
      val traced = a.trace && (runs.isEmpty || Set(1, 2)((runs.size - 1) % 4))
      if (a.trace) setTracing(listener, traced)
      runs += daily(world, base, overrides, traced)
    }
    if (a.trace) setTracing(listener, on = true)

    // ---- lookup phase
    val lookups = lookupPhase(world, prodDir(base), phaseStart)
    val filesTotal =
      if (w.prodSnapshot) SnapshotRelation.totalFiles(spark, prodDir(base))
      else Option(new File(prodDir(base)).listFiles()).toSeq.flatten
        .count(_.getName.endsWith(".parquet"))

    val timed = lookups.filter(_.timed)
    val metrics: Seq[(String, Option[Double], String)] =
      if (a.trace) perLayer(runs.toSeq, timed, filesTotal)
      else endToEnd(setupSeconds, runs.toSeq, timed)
    writeTrace(setups.map(_._1), runs.toSeq, lookups, metrics)
    problems.take(20).foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.ordered(metrics.map { case (n, v, u) =>
        n -> Json.ordered(Seq("value" -> v, "unit" -> u)) }))
  }

  private def setTracing(l: LayerListener, on: Boolean): Unit =
    if (on != tracer.listener.isDefined) {
      if (on) { l.attach(spark); tracer.listener = Some(l) }
      else { l.detach(spark); tracer.listener = None }
    }

  // ---- one daily run -------------------------------------------------

  /** Apply the next day's churn and run the pipeline on it; only the
    * pipeline call is inside the span. */
  private[perfbench] def runDay(world: World, base: File, overrides: DataFrame,
      traced: Boolean): Day = {
    val plan = world.nextRun()
    val runId = f"day${plan.day}%02d"
    val cfg = config(base, runId)
    val transport = new BenchTransport(a.seed, plan.day)
    BenchTransport.feedBody = world.feedJson
    BenchTransport.drainLog()
    val bytesBefore = fsBytesWritten()
    try {
      val (prod, span) = tracer.span("run", runId) {
        if (!traced)
          Pipelines.run(spark, cfg, transport, nvd, BenchTransport.FeedUrl, overrides, plan.now)
        else {
          val (echo, _) = tracer.span("ingest", runId) {
            Pipelines.runIngest(spark, cfg, transport, BenchTransport.FeedUrl, Some(overrides))
          }
          val (normalized, _) = tracer.span("enrichment", runId) {
            Pipelines.runEnrichment(spark, cfg, transport, nvd, echo, overrides, plan.now)
          }
          tracer.span("state_machine", runId) {
            Pipelines.runStateMachine(spark, cfg, echo, normalized)
          }._1
        }
      }
      val bytes = fsBytesWritten() - bytesBefore
      val requests = BenchTransport.drainLog()
      val rows = prod.select(Checks.Cols.map(col(_)): _*).collect().toSeq
      Day(plan, Right(rows), span, requests, bytes)
    } catch {
      case e: Exception =>
        Day(plan, Left(e), Span(-1, "run", runId, -1, 0, 0, 0, 0),
          BenchTransport.drainLog(), fsBytesWritten() - bytesBefore)
    }
  }

  private def daily(world: World, base: File, overrides: DataFrame,
      traced: Boolean): RunRecord = {
    val d = runDay(world, base, overrides, traced)
    val runId = d.span.runId
    attempted += 1
    val errors = d.rows match {
      case Left(e) => Seq(s"$runId threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(rows) =>
        Checks.daily(world.prod, world.feedKeys, d.plan, rows, d.requests.map(_.cve))
          .map(e => s"$runId: $e")
    }
    if (errors.nonEmpty) { failed += 1; problems ++= errors }
    System.err.println(f"[perfbench] $runId ${d.span.seconds}%.3f s, ${d.requests.size} NVD requests, " +
      s"${d.bytesWritten} bytes written${if (traced) ", traced" else ""}" +
      (if (errors.isEmpty) "" else ", FAILED"))
    RunRecord(d.plan.day, traced, d.span.seconds, d.plan.toEnrich, d.requests,
      d.bytesWritten, d.span, errors.isEmpty)
  }

  // ---- lookups -------------------------------------------------------

  private val probeSchema = StructType(Seq(
    StructField("cve_id", StringType, nullable = false),
    StructField("package", StringType, nullable = true)))

  private def lookupPhase(world: World, path: String, phaseStart: Long): Seq[LookupRecord] = {
    val keys = world.prod.keys.toIndexedSeq.sortBy(k => (k.cve, k.pkg))
    val byCve = keys.groupBy(_.cve)
    val cves = byCve.keys.toIndexedSeq.sorted
    val rnd = new java.util.SplittableRandom(a.seed ^ 0x5DEECE66DL)
    val out = mutable.ArrayBuffer.empty[LookupRecord]
    def elapsed = (System.nanoTime() - phaseStart) / 1e9
    val warm = 2 * WarmLookups
    while (out.size < warm + 2 * MaxLookups &&
        (out.size < warm + 2 * MinLookups || elapsed < a.seconds)) {
      val n = out.size / 2
      val (kind, wanted, query) =
        if (out.size % 2 == 0) {
          val k = keys(rnd.nextInt(keys.size))
          ("key", Seq(k), () => keyLookup(path, k))
        } else {
          val c = cves(rnd.nextInt(cves.size))
          ("cve", byCve(c), () => cveLookup(path, c))
        }
      attempted += 1
      val (result, span) =
        try {
          val (rows, s) = tracer.span(s"lookup.$kind", s"lookup-$kind-$n")(query())
          (Right(rows.toSeq), s)
        } catch {
          case e: Exception => (Left(e), Span(-1, kind, "", -1, 0, 0, 0, 0))
        }
      val error = result match {
        case Left(e) => Some(s"$kind lookup threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(rows) => Checks.lookup(world.prod, wanted, rows)
      }
      error.foreach { e => failed += 1; problems += e }
      out += LookupRecord(kind, out.size >= warm, span.seconds,
        result.fold(_ => 0, _.length), span, error.isEmpty)
    }
    out.toSeq
  }

  private[perfbench] def keyLookup(path: String, k: Key): Array[Row] =
    if (w.prodSnapshot) {
      val probe = spark.createDataFrame(java.util.List.of(Row(k.cve, k.pkg)), probeSchema)
      SnapshotUpsert.readKeys(spark, path, probe, Seq("cve_id", "package"))
        .select(Checks.Cols.map(col(_)): _*).collect()
    } else
      TableIO.readTable(spark, path, AdvisorySchemas.cveStateMachine)
        .filter(col("cve_id") === k.cve && col("package") === k.pkg)
        .select(Checks.Cols.map(col(_)): _*).collect()

  private[perfbench] def cveLookup(path: String, cve: String): Array[Row] = {
    val table =
      if (w.prodSnapshot) SnapshotRelation.readSql(spark, path)
      else TableIO.readTable(spark, path, AdvisorySchemas.cveStateMachine)
    table.filter(col("cve_id") === cve).select(Checks.Cols.map(col(_)): _*).collect()
  }

  // ---- metrics -------------------------------------------------------

  private def successRate = 1.0 - failed.toDouble / attempted

  // Every sample below comes from an operation that neither threw nor
  // failed its check: a failed operation counts only in success_rate.

  private def lookupMs(ls: Seq[LookupRecord], kind: String): Option[Double] =
    medianOf(ls.filter(l => l.ok && l.kind == kind).map(_.seconds * 1000))

  private def endToEnd(setupSeconds: Double, runs: Seq[RunRecord],
      lookups: Seq[LookupRecord]): Seq[(String, Option[Double], String)] = Seq(
    ("setup_s", Some(setupSeconds), "s"),
    ("first_run_s", runs.headOption.filter(_.ok).map(_.seconds), "s"),
    ("run_s", medianOf(runs.tail.filter(_.ok).map(_.seconds)), "s"),
    ("nvd_requests", medianOf(runs.filter(_.ok).map(_.requests.size.toDouble)), "count"),
    ("write_mb", medianOf(runs.take(MinRuns).filter(_.ok).map(_.bytesWritten / 1e6)), "MB"),
    ("peak_rss_mb", Some(peakRssMb()), "MB"),
    // with 20 timed lookups of a kind, the median is the highest
    // percentile that still has ten samples above it
    ("key_lookup_p50_ms", lookupMs(lookups, "key"), "ms"),
    ("cve_lookup_p50_ms", lookupMs(lookups, "cve"), "ms"),
    ("success_rate", Some(successRate), "ratio"),
  )

  private def perLayer(runs: Seq[RunRecord], allLookups: Seq[LookupRecord],
      filesTotal: Int): Seq[(String, Option[Double], String)] = {
    val first = runs.headOption.filter(_.ok)
    val traced = runs.tail.filter(r => r.ok && r.traced)
    val untraced = runs.tail.filter(r => r.ok && !r.traced)
    val lookups = allLookups.filter(_.ok)
    def med(f: RunRecord => Double): Option[Double] = medianOf(traced.map(f))
    def stage(r: RunRecord, layer: String): Span =
      tracer.spans.find(s => s.parent == r.span.id && s.name == layer).get
    def stageMetric(layer: String, m: String): (String, Option[Double], String) = {
      def s(r: RunRecord) = tracer.selfSeconds(stage(r, layer))
      def c(r: RunRecord) = tracer.counts(stage(r, layer))
      val (v, unit) = m match {
        case "s" => (med(s), "s")
        case "first_s" => (first.map(s), "s")
        case "jobs" => (med(r => c(r).jobs.toDouble), "count")
        case "task_s" => (med(r => c(r).taskMs / 1000.0), "s")
        case "core_util" => (med(r => c(r).taskMs / 1000.0 / (s(r) * cores)), "ratio")
        case "shuffle_mb" => (med(r => c(r).shuffleBytes / 1e6), "MB")
        case "spill_mb" => (med(r => c(r).spillBytes / 1e6), "MB")
        case "write_mb" => (med(r => c(r).bytesWritten / 1e6), "MB")
        case "nvd_wait_s" => (med(r => BenchTransport.waitSeconds(r.requests)), "s")
        case "requests_per_cve" =>
          (med(r => r.requests.size.toDouble / r.requests.map(_.cve).distinct.size), "ratio")
        case "cache_hit_ratio" =>
          (med(r => (r.toEnrich - r.requests.size).toDouble / r.toEnrich), "ratio")
      }
      (s"$layer.$m", v, unit)
    }
    val stages = Seq(
      "ingest" -> Seq("s", "first_s", "task_s", "core_util", "write_mb"),
      "enrichment" -> Seq("s", "first_s", "jobs", "task_s", "nvd_wait_s",
        "requests_per_cve", "cache_hit_ratio", "write_mb"),
      "state_machine" -> Seq("s", "first_s", "jobs", "task_s", "core_util",
        "shuffle_mb", "spill_mb", "write_mb"))
    def io(f: Counts => Double): Option[Double] = med(r =>
      stages.map { case (layer, _) => f(tracer.counts(stage(r, layer))) }.sum)
    // lookups: counts over the first MinLookups of each kind (always
    // made, so they repeat exactly for a seed), driver time over all
    val counted = lookups.groupBy(_.kind).values.flatMap(_.take(MinLookups)).toSeq
    def perLookup(f: Counts => Double): Option[Double] =
      if (counted.isEmpty) None else Some(counted.map(l => f(tracer.counts(l.span))).sum / counted.size)
    def driverMs(l: LookupRecord): Double = {
      val covered = tracer.counts(l.span).jobIntervals.map { case (s, e) =>
        math.min(e, l.span.endMs) - math.max(s, l.span.startMs) }.filter(_ > 0).sum
      l.seconds * 1000 - covered
    }
    stages.flatMap { case (layer, ms) => ms.map(stageMetric(layer, _)) } ++ Seq(
      ("io.writes", io(_.writes), "count"),
      ("io.write_s", io(_.writeNs / 1e9), "s"),
      ("io.files_written", io(_.filesWritten), "count"),
      ("io.staging_mb", io(_.bytesTo("staging") / 1e6), "MB"),
      ("io.cache_mb", io(_.bytesTo("cache") / 1e6), "MB"),
      ("io.prod_mb", io(_.bytesTo("prod") / 1e6), "MB"),
      ("lookup.files_read", perLookup(_.scanFiles), "count"),
      ("lookup.files_total", Some(filesTotal.toDouble), "count"),
      ("lookup.mb_read", perLookup(_.scanBytes / 1e6), "MB"),
      ("lookup.jobs", perLookup(_.jobs), "count"),
      ("lookup.driver_ms", medianOf(lookups.map(driverMs)), "ms"),
      ("trace.overhead_s", for {
        t <- medianOf(traced.map(_.seconds))
        u <- medianOf(untraced.map(_.seconds))
      } yield t - u, "s"),
    )
  }

  private def writeTrace(setupTimes: Seq[Double], runs: Seq[RunRecord],
      lookups: Seq[LookupRecord], metrics: Seq[(String, Option[Double], String)]): Unit =
    a.traceOut.foreach { f =>
      f.getParentFile.mkdirs()
      val doc = Json.obj(
        "workload" -> w.name, "seed" -> a.seed, "trace" -> a.trace,
        "nproc" -> cores,
        "mem_total_mb" -> memTotalMb(),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "setup_reps_s" -> setupTimes,
        "runs" -> runs.map(r => Json.ordered(Seq(
          "day" -> r.day, "traced" -> r.traced, "seconds" -> r.seconds,
          "nvd_requests" -> r.requests.size, "bytes_written" -> r.bytesWritten,
          "ok" -> r.ok))),
        "lookups" -> lookups.map(l => Json.ordered(Seq(
          "kind" -> l.kind, "timed" -> l.timed, "ms" -> l.seconds * 1000,
          "rows" -> l.rows, "ok" -> l.ok))),
        "spans" -> tracer.spans.map(s => Json.ordered(Seq(
          "id" -> s.id, "name" -> s.name, "run_id" -> s.runId, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
          "self_seconds" -> tracer.selfSeconds(s)))),
        "metrics" -> Json.ordered(metrics.map { case (n, v, u) =>
          n -> Json.ordered(Seq("value" -> v, "unit" -> u)) }),
        "problems" -> problems.toSeq)
      val out = new java.io.PrintWriter(f, "UTF-8")
      try out.println(doc) finally out.close()
    }
}

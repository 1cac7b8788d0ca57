package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line options; `root` is the temp root the launcher owns. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    root: Path, tables: Path, repo: Path, commit: String, resultFile: Path,
    spansFile: Path)

/** A metric value with its unit, as printed. */
final case class Metric(value: Double, unit: String)

/**
 * What a workload hands back: operation counts, the end-to-end metrics, the
 * per-layer metrics of a traced run and the workload's own named figures.
 */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val endToEnd = mutable.LinkedHashMap.empty[String, Metric]
  val layers = mutable.LinkedHashMap.empty[String, Metric]
  val named = mutable.LinkedHashMap.empty[String, Any]

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
    System.err.println(s"[perfbench] FAILED $what")
  }

  /** Count one operation; a thrown error or a false check fails it. */
  def op(what: String)(body: => Boolean): Unit = {
    attempted += 1
    val ok = try body catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $what threw: $e")
        false
    }
    if (!ok) fail(what)
  }
}

/** One Spark session plus the tracer bound to it. */
final class Harness(val opts: Opts) {
  val cpus: Int = Runtime.getRuntime.availableProcessors()
  private val warehouse = opts.root.resolve("warehouse")
  var spark: SparkSession = _
  var tracer: Tracer = _

  def start(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .config("spark.local.dir", opts.root.resolve("local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer = new Tracer(spark)
    tracer.attach()
  }

  def stop(): Unit = { spark.stop(); spark = null; tracer = null }

  /** `body`'s result, its wall time in seconds and the Spark jobs it
    * started; the listener bus is drained outside the timed region. */
  def timed[T](body: => T): (T, Double, Long) = {
    tracer.drain()
    val before = tracer.jobsStarted
    val t0 = System.nanoTime()
    val r = body
    val dt = Main.seconds(t0)
    tracer.drain()
    (r, dt, tracer.jobsStarted - before)
  }

  /** Repetitions a workload times: `n`, and at least four in a traced run. */
  def timedReps(n: Int): Int = if (opts.trace) math.max(n, 4) else n

  /** Whether to start repetition `rep` of a window that began at `t0`:
    * each of the first `timed`, later ones while the window lasts. */
  def more(rep: Int, t0: Long, timed: Int): Boolean =
    rep < timed || Main.seconds(t0) < opts.seconds

  /** Whether repetition `rep` of a run is traced. A traced run traces
    * repetitions in the order traced, untraced, untraced, traced (and
    * again), so warm-up drift cancels out of the overhead estimate. */
  def traceRep(rep: Int): Boolean = {
    tracer.recording = opts.trace && (rep % 4 == 0 || rep % 4 == 3)
    tracer.recording
  }

  /** Live heap after a forced full collection, in MB. The first
    * collection queues Spark's weakly held blocks, broadcasts and shuffles
    * for the ContextCleaner, which polls every 100 ms; the second, after
    * it has run, collects what it released. */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Main {

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def fileCount(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.count(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toLong
      finally s.close()
    }

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("root")), Paths.get(m.getOrElse("tables", "")),
      Paths.get(get("repo")), m.getOrElse("commit", ""), Paths.get(get("result")),
      Paths.get(get("spans")))
  }

  /** Every name a traced run reports, with its unit; a layer a workload
    * does not touch reports 0. */
  def layerUnits: Seq[(String, String)] =
    Seq("sources.loop_s" -> "s", "sources.lines_per_s" -> "1/s",
      "cache.write_s" -> "s", "cache.probe_s" -> "s", "cache.swap_s" -> "s",
      "cache.state_s" -> "s", "cache.register_s" -> "s", "cache.gap_s" -> "s",
      "cache.jobs_per_stream" -> "count", "cache.written_per_input_byte" -> "ratio",
      "cache.shuffle_bytes" -> "bytes", "cache.spill_bytes" -> "bytes", "cache.files" -> "count",
      "datasets.take_s" -> "s", "datasets.count_s" -> "s", "datasets.sql_s" -> "s",
      "datasets.state_read_s" -> "s", "datasets.scanned_per_returned" -> "ratio") ++
      QueryMix.All.flatMap(q => Seq(s"queries.$q.build_s" -> "s", s"queries.$q.exec_s" -> "s",
        s"queries.$q.jobs" -> "count", s"queries.$q.gap_s" -> "s",
        s"queries.$q.task_s" -> "s", s"queries.$q.shuffle_bytes" -> "bytes")) ++
      Seq("queries.sql.slot_util" -> "frac", "queries.curation.slot_util" -> "frac",
        "queries.spill_bytes" -> "bytes", "queries.held_blocks_mb" -> "MB",
        "trace.overhead_frac" -> "frac")

  def unitOf(layer: String): String = layerUnits.toMap.getOrElse(layer, "")

  /** Relative cost of tracing: traced over untraced median, less one. */
  def overhead(traced: Seq[Double], plain: Seq[Double]): Double =
    if (traced.isEmpty || plain.isEmpty) 0.0
    else Stats.median(traced) / Stats.median(plain) - 1

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val loadStart = loadAvg()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload: Workload = opts.workload match {
      case "sync_append" => new SyncAppend
      case "sync_incremental" => new SyncIncremental
      case "query_mix" => new QueryMix
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val h = new Harness(opts)
    val out = new Outcome
    val warehouseBefore = repoWarehouse(opts)

    // inputs first, timed on their own
    val g0 = System.nanoTime()
    workload.generate(h)
    val genS = seconds(g0)

    // set-up, three times: session start, warm-up job, workload set-up
    // (cache creation or table registration). The first cycle counts
    // from JVM start, less input generation, so it also carries class
    // loading and JIT warm-up; it is the slowest, so the reported median
    // is a warm set-up in a running JVM. The cold cycle is reported on
    // its own in the detail line.
    val setups = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      h.start()
      h.spark.range(0, 200000, 1, h.cpus).selectExpr("sum(id)").collect()
      workload.setUp(h)
      val s = if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 - genS else seconds(t0)
      if (i < 3) { workload.tearDown(h); h.stop() }
      s
    }

    val w0 = System.nanoTime()
    workload.warmUp(h, out)
    val warmS = seconds(w0)
    val t0 = System.nanoTime()
    workload.run(h, out)
    val runS = seconds(t0)
    h.tracer.recording = false
    val f0 = System.nanoTime()
    workload.finalCheck(h, out)

    if (opts.trace) {
      Files.createDirectories(opts.spansFile.getParent)
      Files.writeString(opts.spansFile, h.tracer.dumpJson() + "\n")
    }

    // hermetic storage: no swap leftovers in any cache, and nothing
    // written to the working directory's warehouse
    out.op("no __merge_/__compact_ leftovers in cache databases") {
      val left = h.spark.catalog.listDatabases().collect().toSeq.flatMap { db =>
        h.spark.catalog.listTables(db.name).collect().map(_.name)
          .filter(n => n.startsWith("__merge_") || n.startsWith("__compact_"))
      }
      val leftDirs = Option(opts.root.resolve("caches").toFile.listFiles()).toSeq.flatten
        .flatMap(d => Option(d.listFiles()).toSeq.flatten).map(_.getName)
        .filter(n => n.startsWith("__merge_") || n.startsWith("__compact_"))
      if ((left ++ leftDirs).nonEmpty) System.err.println(s"[perfbench] leftovers: ${left ++ leftDirs}")
      (left ++ leftDirs).isEmpty
    }
    workload.tearDown(h)
    val defaultParallelism = h.spark.sparkContext.defaultParallelism
    val shufflePartitions = h.spark.conf.get("spark.sql.shuffle.partitions")
    h.stop()
    val finalS = seconds(f0)
    out.op("nothing written to the working directory's spark-warehouse") {
      repoWarehouse(opts) == warehouseBefore
    }

    out.endToEnd("setup_s") = Metric(Stats.median(setups), "s")
    val xmx = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .find(_.startsWith("-Xmx")).getOrElse("")
    val detail = mutable.LinkedHashMap[String, Any](
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "commit" -> opts.commit, "cpus" -> h.cpus,
      "default_parallelism" -> defaultParallelism,
      "shuffle_partitions" -> shufflePartitions, "xmx" -> xmx,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "staging_root" -> opts.root.toString,
      "loadavg_start" -> loadStart, "loadavg_end" -> loadAvg(),
      "input_generation_s" -> genS,
      "setup_cold_s" -> setups.head, "setup_samples_s" -> setups, "warm_up_s" -> warmS, "run_s" -> runS,
      "final_checks_s" -> finalS,
      "failed_frac" -> (if (out.attempted == 0) 0.0 else out.failed.toDouble / out.attempted),
      "failures" -> out.failures)
    detail ++= out.named
    val metrics =
      if (opts.trace) layerUnits.map { case (k, u) => k -> out.layers.getOrElse(k, Metric(0.0, u)) }
      else out.endToEnd.toSeq
    val result = Json.obj(
      "correct" -> (out.failed == 0), "attempted" -> math.max(1L, out.attempted),
      "failed" -> out.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, m) =>
        k -> mutable.LinkedHashMap("value" -> m.value, "unit" -> m.unit) }: _*))
    println(Json.render(detail))
    Files.writeString(opts.resultFile, result + "\n")
  }

  /** A listing of the working directory's `spark-warehouse/`, if any. */
  private def repoWarehouse(opts: Opts): Seq[String] = {
    val w = opts.repo.resolve("spark-warehouse")
    if (!Files.exists(w)) Seq.empty
    else {
      val s = Files.walk(w)
      try s.iterator().asScala.map(p => s"$p:${if (Files.isRegularFile(p)) Files.size(p) else -1}").toSeq.sorted
      finally s.close()
    }
  }
}

/** A workload: inputs, set-up, warm-up, the timed loop and final checks. */
trait Workload {
  def generate(h: Harness): Unit = ()
  def setUp(h: Harness): Unit
  def tearDown(h: Harness): Unit = ()
  def warmUp(h: Harness, out: Outcome): Unit = ()
  def run(h: Harness, out: Outcome): Unit
  def finalCheck(h: Harness, out: Outcome): Unit = ()
}

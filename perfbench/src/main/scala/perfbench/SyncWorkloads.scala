package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.Row

import graft.cache.SparkCache
import graft.datasets.CachedDataset
import graft.protocol.{ConfiguredCatalog, WriteStrategy}
import graft.sources.SubprocessSource

/** Checks shared by the sync workloads. */
object SyncChecks {
  private val mapper = new ObjectMapper()

  def sameJson(a: Option[String], b: Option[String]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => mapper.readTree(x) == mapper.readTree(y)
    case (None, None) => true
    case _ => false
  }

  def decimal(cents: Long): java.math.BigDecimal = java.math.BigDecimal.valueOf(cents, 2)

  def sameDecimal(v: Any, cents: Long): Boolean = v match {
    case d: java.math.BigDecimal => d.compareTo(decimal(cents)) == 0
    case null => cents == 0
    case _ => false
  }

  /** Row count and decimal sum of every stream table in one query, plus
    * the latest state of every stream from one scan of the state table;
    * returns the streams whose figures disagree with the model. */
  def mismatches(cache: SparkCache, source: String, expect: Map[String, StreamExpect],
      sumColumn: String => String): Seq[String] = {
    val spark = cache.spark
    val union = expect.keys.toSeq.sorted.map { s =>
      s"SELECT '$s' AS s, count(*) AS n, sum(`${sumColumn(s)}`) AS total FROM ${cache.tableName(s)}"
    }.mkString(" UNION ALL ")
    val got = spark.sql(union).collect().map(r => r.getString(0) -> r).toMap
    val states = spark.sql(
      s"SELECT stream_name, max_by(state_json, updated_at) FROM `${cache.database}`.`_airbyte_state` " +
        s"WHERE source_name = '$source' GROUP BY stream_name")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    expect.toSeq.flatMap { case (s, e) =>
      val r = got.get(s)
      val ok = r.exists(r => r.getLong(1) == e.rows && sameDecimal(r.get(2), e.sumCents)) &&
        sameJson(states.get(s), e.state)
      if (ok) None else Some(s"$s: expected $e, got ${r.map(_.toString)} state ${states.get(s)}")
    }
  }
}

/**
 * `sync_append`: a full-refresh connector sync through
 * `SubprocessSource.sync(cache, Append)` into a fresh cache per
 * repetition. The connector is `cat` over a generated protocol file.
 */
final class SyncAppend extends Workload {
  // lineitem-shaped wide stream, text stream, small streams
  val WideRows = 600000
  val TextRows = 20000
  val SmallStreams = 20
  val Source = "perfbench-append"

  private var gen: AppendGen = _
  private var file: Path = _
  private var emitted: Emitted = _
  private var catalog: ConfiguredCatalog = _
  private var cache: SparkCache = _

  private def cacheDir(h: Harness) = h.opts.root.resolve("caches").resolve("pb_append")

  override def generate(h: Harness): Unit = {
    val staging = Files.createDirectories(h.opts.root.resolve("staging"))
    gen = new AppendGen(h.opts.seed, WideRows, TextRows, SmallStreams)
    file = staging.resolve("append.jsonl")
    emitted = gen.write(file)
    catalog = ConfiguredCatalog.fromCatalogJson(gen.catalog)
  }

  private def freshCache(h: Harness): SparkCache =
    SparkCache.fresh(h.spark, "pb_append", Some(cacheDir(h).toString))

  override def setUp(h: Harness): Unit = cache = freshCache(h)

  override def tearDown(h: Harness): Unit = if (cache != null) cache.dropAll()

  private def sync(h: Harness, f: Path): (Double, Long) = {
    val src = new SubprocessSource(Source, catalog, Seq("cat", f.toString))
    try {
      val (_, dt, jobs) = h.timed(h.tracer.span("sources.sync") {
        src.sync(cache, h.spark, Seq.empty, WriteStrategy.Append)
      })
      (dt, jobs)
    } finally src.close()
  }

  /** One untimed sync of the same file: the parse loop and the writers
    * reach compiled code only after a full-size pass. */
  override def warmUp(h: Harness, out: Outcome): Unit =
    out.op("warm-up sync") {
      val (_, jobs) = sync(h, file)
      jobs > 0 && SyncChecks.mismatches(cache, Source, emitted.streams, gen.sumColumn).isEmpty
    }

  override def run(h: Harness, out: Outcome): Unit = {
    val times = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val stored = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var rep = 0
    while (h.more(rep, t0, h.timedReps(1))) {
      cache.dropAll()
      cache = freshCache(h)
      val traced = h.traceRep(rep)
      out.op(s"sync rep $rep") {
        val (dt, jobs) = sync(h, file)
        h.tracer.recording = false
        times += dt -> traced
        if (jobs == 0) System.err.println(s"[perfbench] sync rep $rep launched no Spark job")
        val bad = SyncChecks.mismatches(cache, Source, emitted.streams, gen.sumColumn)
        bad.foreach(b => System.err.println(s"[perfbench] $b"))
        stored += Main.dirBytes(cacheDir(h)).toDouble / emitted.payloadBytes
        if (traced) layers += Layers.sync(h.tracer, h.tracer.spans.filter(_.name == "sources.sync").last,
          emitted.lines, gen.streams.size, emitted.payloadBytes, Main.fileCount(cacheDir(h)))
        jobs > 0 && bad.isEmpty
      }
      heap += h.retainedHeapMb()
      rep += 1
    }
    val plain = times.filterNot(_._2).map(_._1)
    val all = times.map(_._1).toSeq
    out.endToEnd("op_p50_s") = Metric(Stats.median(all), "s")
    out.endToEnd("retained_heap_mb") = Metric(Stats.median(heap.toSeq), "MB")
    out.named ++= Seq(
      "records_per_s" -> Map("value" -> emitted.records / Stats.median(all), "unit" -> "1/s",
        "samples" -> all.size),
      "stored_per_input_byte" -> Map("value" -> Stats.median(stored.toSeq), "unit" -> "ratio",
        "samples" -> stored.size),
      "sync_s" -> all, "records" -> emitted.records, "lines" -> emitted.lines,
      "payload_bytes" -> emitted.payloadBytes)
    if (h.opts.trace) {
      val traced = times.filter(_._2).map(_._1)
      out.layers ++= Layers.medians(layers.toSeq).map { case (k, v) => k -> Metric(v, Main.unitOf(k)) }
      out.layers("trace.overhead_frac") = Metric(Main.overhead(traced.toSeq, plain.toSeq), "frac")
    }
  }
}

/**
 * `sync_incremental`: one initial load, then seeded incremental syncs
 * through `SubprocessSource.sync(cache, Auto)` over a merge stream, a
 * CDC-delete stream and an append stream, each followed by one read-back
 * round through the dataset and SQL surfaces.
 */
final class SyncIncremental extends Workload {
  val Source = "perfbench-incr"
  val WarmBatches = 2
  /** The tables grow with every batch, so every run times the same
    * batches: a faster commit must not be measured on larger tables.
    * `--seconds` is a floor; batches past this count are run and checked
    * but not timed into the metrics. */
  val TimedBatches = 6
  private val sumColumn = Map("accounts" -> "balance", "ledger" -> "amount", "events" -> "value")

  private var gen: IncrementalGen = _
  private var catalog: ConfiguredCatalog = _
  private var cache: SparkCache = _
  private var staging: Path = _
  private var initial: Path = _
  private var pick: java.util.SplittableRandom = _

  private def cacheDir(h: Harness) = h.opts.root.resolve("caches").resolve("pb_incr")

  override def generate(h: Harness): Unit = {
    staging = Files.createDirectories(h.opts.root.resolve("staging"))
    gen = new IncrementalGen(h.opts.seed)
    catalog = ConfiguredCatalog.fromCatalogJson(gen.catalog)
    initial = staging.resolve("batch-0.jsonl")
    gen.writeNext(initial)
    pick = new java.util.SplittableRandom(h.opts.seed ^ 0x9E3779B97F4A7C15L)
  }

  override def setUp(h: Harness): Unit =
    cache = SparkCache.fresh(h.spark, "pb_incr", Some(cacheDir(h).toString))

  override def tearDown(h: Harness): Unit = if (cache != null) cache.dropAll()

  private def sync(h: Harness, f: Path): (Double, Long) = {
    val src = new SubprocessSource(Source, catalog, Seq("cat", f.toString))
    try {
      val (_, dt, jobs) = h.timed(h.tracer.span("sources.sync") {
        src.sync(cache, h.spark, Seq.empty, WriteStrategy.Auto)
      })
      (dt, jobs)
    } finally src.close()
  }

  private val keyOf = Map("accounts" -> "account_id", "ledger" -> "entry_id", "events" -> "event_id")
  private val TakeN = 50
  private val RangeWidth = 400L

  /** One read-back round: filtered take and count per stream, one SQL
    * aggregate and the latest state per stream. Every answer is checked
    * against the model after the round's clock stops. */
  private def readBack(h: Harness, out: Outcome, label: String): (Double, Long, Long) = {
    val t = h.tracer
    val ranges = gen.streams.map { s =>
      val hi = math.max(1L, gen.keyBound(s) - RangeWidth)
      val lo = pick.nextLong(hi)
      s -> (lo, lo + RangeWidth)
    }.toMap
    val expectTake = gen.streams.map(s => s -> math.min(TakeN.toLong, gen.liveIn(s, ranges(s)._1, ranges(s)._2))).toMap
    val expect = gen.expect
    val takes = mutable.Map.empty[String, Array[Row]]
    val counts = mutable.Map.empty[String, Long]
    val states = mutable.Map.empty[String, Option[String]]
    var sqlRow: Array[Row] = Array.empty
    val (_, dt, jobs) = h.timed {
      gen.streams.foreach { s =>
        val ds = new CachedDataset(cache, s)
        val (lo, hi) = ranges(s)
        takes(s) = t.span("datasets.take") {
          ds.withFilter(s"${keyOf(s)} >= $lo AND ${keyOf(s)} < $hi").take(TakeN)
        }
        counts(s) = t.span("datasets.count")(ds.count())
      }
      sqlRow = t.span("datasets.sql") {
        cache.runSqlQuery("SELECT count(*) AS n, sum(balance) AS total FROM accounts").collect()
      }
      gen.streams.foreach(s => states(s) = t.span("datasets.state_read")(cache.latestState(Source, s)))
    }
    gen.streams.foreach { s =>
      val (lo, hi) = ranges(s)
      out.op(s"$label take $s") {
        val rows = takes(s)
        rows.length == expectTake(s) &&
          rows.forall { r => val k = r.getAs[Long](keyOf(s)); k >= lo && k < hi }
      }
      out.op(s"$label count $s")(counts(s) == expect(s).rows)
      out.op(s"$label latestState $s")(SyncChecks.sameJson(states(s), expect(s).state))
    }
    out.op(s"$label runSqlQuery") {
      sqlRow.length == 1 && sqlRow(0).getLong(0) == expect("accounts").rows &&
        SyncChecks.sameDecimal(sqlRow(0).get(1), expect("accounts").sumCents)
    }
    (dt, jobs, takes.values.map(_.length.toLong).sum)
  }

  private def nextBatch(): (Path, Emitted) = {
    val f = staging.resolve(s"batch-${gen.batch + 1}.jsonl")
    Files.deleteIfExists(staging.resolve(s"batch-${gen.batch}.jsonl"))
    (f, gen.writeNext(f))
  }

  override def warmUp(h: Harness, out: Outcome): Unit = {
    out.op("initial load") {
      val (dt, jobs) = sync(h, initial)
      out.named("initial_load_s") = dt
      jobs > 0
    }
    readBack(h, out, "initial")
    (1 to WarmBatches).foreach { i =>
      out.op(s"warm-up batch $i")(sync(h, nextBatch()._1)._2 > 0)
      readBack(h, out, s"warm-up $i")
    }
  }

  override def run(h: Harness, out: Outcome): Unit = {
    val batches = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val reads = mutable.ArrayBuffer.empty[Double]
    val stored = mutable.ArrayBuffer.empty[Double]
    val heap = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var rep = 0
    val timedBatches = h.timedReps(TimedBatches)
    while (h.more(rep, t0, timedBatches)) {
      val (f, emitted) = nextBatch()
      val timed = rep < timedBatches
      val traced = timed && h.traceRep(rep)
      out.op(s"batch ${gen.batch}") {
        val (dt, jobs) = sync(h, f)
        if (timed) batches += dt -> traced
        if (jobs == 0) System.err.println(s"[perfbench] batch ${gen.batch} launched no Spark job")
        jobs > 0
      }
      val spansBefore = h.tracer.spans.size
      val (rdt, rjobs, returned) = readBack(h, out, s"batch ${gen.batch}")
      h.tracer.recording = false
      if (rjobs == 0) out.fail(s"read-back after batch ${gen.batch} launched no Spark job")
      if (timed) {
        reads += rdt
        stored += Main.dirBytes(cacheDir(h)).toDouble / gen.livePayloadBytes
        heap += h.retainedHeapMb()
      }
      if (traced) {
        val t = h.tracer
        val syncSpan = t.spans.filter(_.name == "sources.sync").last
        val round = t.spans.drop(spansBefore)
        def total(name: String) = round.filter(_.name == name).map(_.seconds).sum
        val takeJobs = t.jobsIn(round.filter(_.name == "datasets.take").map(_.id).toSet)
        layers += Layers.sync(t, syncSpan, emitted.lines, gen.streams.size, emitted.payloadBytes,
          Main.fileCount(cacheDir(h))) ++ Map(
          "datasets.take_s" -> total("datasets.take"), "datasets.count_s" -> total("datasets.count"),
          "datasets.sql_s" -> total("datasets.sql"), "datasets.state_read_s" -> total("datasets.state_read"),
          "datasets.scanned_per_returned" -> t.sums(takeJobs).inputRecords.toDouble / math.max(1L, returned))
      }
      rep += 1
    }
    val all = batches.map(_._1).toSeq
    out.endToEnd("op_p50_s") = Metric(Stats.median(all), "s")
    out.endToEnd("retained_heap_mb") = Metric(Stats.median(heap.toSeq), "MB")
    val tail = Stats.tail(all)
    out.named ++= Seq(
      "batch_p50_s" -> Map("value" -> Stats.median(all), "unit" -> "s", "samples" -> all.size),
      "batch_tail_s" -> Map("value" -> tail.map(_._2), "percentile" -> tail.map(_._1),
        "unit" -> "s", "samples" -> all.size),
      "readback_p50_s" -> Map("value" -> Stats.median(reads.toSeq), "unit" -> "s", "samples" -> reads.size),
      "stored_per_live_byte" -> Map("value" -> Stats.median(stored.toSeq), "unit" -> "ratio",
        "samples" -> stored.size),
      "batch_s" -> all, "readback_s" -> reads.toSeq, "batches" -> gen.batch,
      "untimed_batches" -> (rep - timedBatches))
    if (h.opts.trace) {
      out.layers ++= Layers.medians(layers.toSeq).map { case (k, v) => k -> Metric(v, Main.unitOf(k)) }
      out.layers("trace.overhead_frac") = Metric(
        Main.overhead(batches.filter(_._2).map(_._1).toSeq, batches.filterNot(_._2).map(_._1).toSeq), "frac")
    }
  }

  /** Every surviving row against the model: balances and batches of
    * accounts, the live ledger keys and amounts; then row count, decimal
    * sum and latest state of every stream, events included. */
  override def finalCheck(h: Harness, out: Outcome): Unit = {
    out.op("final accounts match the model") {
      val got = cache.table("accounts").select("account_id", "balance", "batch").collect()
      got.length == gen.accounts.count && got.forall { r =>
        gen.accounts.rows.get(r.getLong(0)).exists { case (bal, b) =>
          SyncChecks.sameDecimal(r.get(1), bal) && r.getLong(2) == b }
      }
    }
    out.op("final ledger matches the model, no deleted key survives") {
      val got = cache.table("ledger").select("entry_id", "amount").collect()
      got.length == gen.ledger.count && got.forall { r =>
        !gen.ledger.deleted(r.getLong(0)) &&
          gen.ledger.live.get(r.getLong(0)).exists(SyncChecks.sameDecimal(r.get(1), _))
      }
    }
    out.op("final count, decimal sum and state of every stream match the model") {
      val bad = SyncChecks.mismatches(cache, Source, gen.expect, sumColumn)
      bad.foreach(b => System.err.println(s"[perfbench] $b"))
      bad.isEmpty
    }
  }
}

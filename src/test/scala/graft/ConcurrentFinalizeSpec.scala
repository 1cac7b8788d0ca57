package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.protocol._
import graft.sources.{StreamPool, SubprocessSource}

/**
 * A sync finalizes its streams concurrently through one bounded pool
 * (`StreamPool`): each stream's state still lands after its data, a
 * failed finalize stops the connector and lets every other in-flight
 * stream finish, workers carry the caller's job group, and streams that
 * land in one table never overlap.
 */
class ConcurrentFinalizeSpec extends SparkTestBase {

  import spark.implicits._

  private val Deleted = "_ab_cdc_deleted_at"

  private val accountsSchema = StructType(Seq(
    StructField("id", LongType), StructField("balance", LongType),
    StructField("updated", LongType)))
  private val ledgerSchema = StructType(Seq(
    StructField("id", LongType), StructField("amount", LongType),
    StructField("seq", LongType), StructField(Deleted, StringType)))
  private val eventsSchema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType)))

  private def mergeStream(name: String) =
    ConfiguredStream(name, accountsSchema, primaryKeys = Seq("id"),
      cursorField = Some("updated"))

  // accounts → merge, ledger → CDC delete, events → append (AUTO)
  private val catalog = ConfiguredCatalog(Seq(
    mergeStream("accounts"),
    ConfiguredStream("ledger", ledgerSchema, primaryKeys = Seq("id"),
      cursorField = Some("seq"), cdcDeletedAtField = Some(Deleted)),
    ConfiguredStream("events", eventsSchema, cursorField = Some("id"))))

  private def record(stream: String, data: String) =
    s"""{"type":"RECORD","record":{"stream":"$stream","data":$data,"emitted_at":1700000000000}}"""
  private def state(stream: String, cursor: Int) =
    s"""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"$stream"},"stream_state":{"cursor":$cursor}}}}"""
  private def complete(stream: String) =
    s"""{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"$stream"},"status":"COMPLETE"}}}"""
  private def globalState(batch: Int) =
    s"""{"type":"STATE","state":{"type":"GLOBAL","global":{"shared_state":{"batch":$batch}}}}"""

  /** Plain-Scala model of the three streams, the sequential expectation. */
  private final class Model {
    val accounts = scala.collection.mutable.Map.empty[Long, Long]
    val ledger = scala.collection.mutable.Map.empty[Long, Long]
    val events = scala.collection.mutable.ArrayBuffer.empty[Long]
    var seq = 0L
    var eventId = 0L
  }

  /** One seeded batch as a protocol file: records of all streams
    * interleaved, each stream's STATE and TRACE COMPLETE right after its
    * last record, a GLOBAL state at the end. Merge keys are unique per
    * batch (versions within a batch share `_airbyte_extracted_at`); CDC
    * keys get 1-3 versions ordered by `seq`, some ending in a delete. */
  private def batchFile(model: Model, batch: Int, seed: Long,
      extra: Seq[String] = Seq.empty): Path = {
    val rnd = new scala.util.Random(seed)
    val lines = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val accIds = rnd.shuffle((1L to (100L + 40 * batch)).toList).take(90)
    accIds.foreach { id =>
      val bal = rnd.nextInt(10000).toLong
      model.accounts(id) = bal
      lines += "accounts" -> record("accounts", s"""{"id":$id,"balance":$bal,"updated":$batch}""")
    }
    rnd.shuffle((1L to 100L).toList).take(70).foreach { id =>
      val versions = 1 + rnd.nextInt(3)
      (1 to versions).foreach { v =>
        model.seq += 1
        val amount = rnd.nextInt(500).toLong
        val del = v == versions && rnd.nextInt(10) == 0
        if (v == versions) { if (del) model.ledger.remove(id) else model.ledger(id) = amount }
        val marker = if (del) "\"2024-01-01T00:00:00Z\"" else "null"
        lines += "ledger" -> record("ledger",
          s"""{"id":$id,"amount":$amount,"seq":${model.seq},"$Deleted":$marker}""")
      }
    }
    (1 to 60).foreach { _ =>
      model.eventId += 1
      model.events += model.eventId
      lines += "events" -> record("events", s"""{"id":${model.eventId},"kind":"k${rnd.nextInt(5)}"}""")
    }
    // keep each stream's own record order (CDC versions), interleave streams
    val byStream = lines.groupBy(_._1).map { case (s, ls) => s -> ls.map(_._2).iterator }
    val order = rnd.shuffle(lines.map(_._1).toList)
    val remaining = scala.collection.mutable.Map(lines.groupBy(_._1).map { case (s, ls) => s -> ls.size }.toSeq: _*)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    order.foreach { s =>
      out += byStream(s).next()
      remaining(s) -= 1
      if (remaining(s) == 0) { out += state(s, batch); out += complete(s) }
    }
    out ++= extra
    out += globalState(batch)
    val f = Files.createTempFile("concurrent-finalize", ".jsonl")
    Files.write(f, out.mkString("\n").getBytes("UTF-8"))
    f
  }

  private def spillFiles(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft-batch-")).toSet
  }

  private def leftovers(cache: SparkCache): Seq[String] =
    spark.catalog.listTables(cache.database)
      .collect().map(_.name).filter(_.startsWith("__")).toSeq

  private def assertMatches(cache: SparkCache, m: Model, batch: Int): Unit = {
    val acc = cache.table("accounts").select("id", "balance").as[(Long, Long)].collect().toMap
    assert(acc == m.accounts.toMap)
    assert(cache.table("accounts").count() == m.accounts.size) // no duplicate keys
    val led = cache.table("ledger").select("id", "amount").as[(Long, Long)].collect().toMap
    assert(led == m.ledger.toMap)
    assert(cache.table("ledger").count() == m.ledger.size)
    val ev = cache.table("events").select("id").as[Long].collect().toSeq.sorted
    assert(ev == m.events.toSeq)
    Seq("accounts", "ledger", "events").foreach { s =>
      assert(cache.latestState("cf", s).exists(_.contains(s""""cursor":$batch""")), s)
    }
  }

  private def globalBatch(cache: SparkCache, batch: Int): Boolean =
    cache.latestState("cf", "_GLOBAL").exists(_.contains(s""""batch":$batch"""))

  test("concurrent merge + CDC + append finalize equals the sequential expectation") {
    val cache = SparkCache.fresh(spark, "graft_test_cf_equiv")
    val m = new Model
    val before = spillFiles()
    try {
      (1 to 3).foreach { b =>
        val f = batchFile(m, b, seed = 100 + b)
        // chunkSize 25 spills every stream several times per batch
        val src = new SubprocessSource("cf", catalog, Seq("cat", f.toString), chunkSize = 25)
        val result = src.sync(cache, spark)
        assert(result.counts == Map("accounts" -> m.accounts.size.toLong,
          "ledger" -> m.ledger.size.toLong, "events" -> m.events.size.toLong))
        assertMatches(cache, m, b)
        assert(globalBatch(cache, b))
        Files.delete(f)
      }
      assert(leftovers(cache).isEmpty)
      assert(spillFiles() == before)
    } finally cache.dropAll()
  }

  test("a failed finalize stops the connector; the others commit; nothing leaks") {
    val failing = catalog.copy(streams = catalog.streams :+ mergeStream("broken"))
    val cache = SparkCache.fresh(spark, "graft_test_cf_fail")
    val before = spillFiles()
    try {
      val m = new Model
      // 30 records: more than chunkSize, so the failing stream has a
      // spill file its own worker never gets to delete
      def broken(batch: Int) = (1 to 30).map(id =>
        record("broken", s"""{"id":$id,"balance":$batch,"updated":$batch}""")) ++
        Seq(state("broken", batch), complete("broken"))
      val f1 = batchFile(m, 1, seed = 7, extra = broken(1))
      new SubprocessSource("cf", failing, Seq("cat", f1.toString), chunkSize = 25)
        .sync(cache, spark)
      assert(cache.latestState("cf", "broken").exists(_.contains(""""cursor":1""")))
      // `broken` becomes a view: its merge stages a full result, then
      // the rename swap fails (ALTER TABLE on a view)
      spark.sql(s"ALTER TABLE ${cache.tableName("broken")} RENAME TO `${cache.database}`.`broken_data`")
      spark.sql(s"CREATE VIEW ${cache.tableName("broken")} AS SELECT * FROM `${cache.database}`.`broken_data`")

      // `broken` completes last, so every other stream is already in
      // flight when its finalize fails; the connector outlives its
      // output, so only a stop can end this sync early
      val f2 = batchFile(m, 2, seed = 8, extra = broken(2))
      val pidFile = Files.createTempFile("cf-connector", ".pid")
      val cmd = Seq("/bin/sh", "-c", s"echo $$$$ > $pidFile; cat $f2; exec sleep 120")
      val t0 = System.nanoTime()
      val err = intercept[org.apache.spark.sql.AnalysisException] {
        new SubprocessSource("cf", failing, cmd, chunkSize = 25).sync(cache, spark)
      }
      assert((System.nanoTime() - t0) / 1e9 < 60, "the failed finalize did not stop the connector")
      assert(err.getMessage.toLowerCase(java.util.Locale.ROOT).contains("view"))

      // the other streams committed data and then state; no global state
      assertMatches(cache, m, 2)
      assert(globalBatch(cache, 1))
      // the failed stream wrote no state for this sync and kept its rows
      assert(cache.latestState("cf", "broken").exists(_.contains(""""cursor":1""")))
      assert(cache.table("broken").count() == spark.table(s"`${cache.database}`.`broken_data`").count())
      assert(leftovers(cache).isEmpty)
      assert(spillFiles() == before)
      val pid = new String(Files.readAllBytes(pidFile), "UTF-8").trim.toLong
      val h = java.lang.ProcessHandle.of(pid)
      assert(!(h.isPresent && h.get.isAlive))
      Seq(f1, f2, pidFile).foreach(Files.delete)
    } finally cache.dropAll()
  }

  test("a failed finalize leaves a stream whose COMPLETE never arrived untouched") {
    // `snapshot` has no key and no cursor, so it resolves to Replace: a
    // finalize of its partial batch would overwrite the whole table
    val twoStreams = ConfiguredCatalog(Seq(
      mergeStream("broken"), ConfiguredStream("snapshot", eventsSchema)))
    val cache = SparkCache.fresh(spark, "graft_test_cf_open")
    val before = spillFiles()
    def snapshot(batch: Int, n: Int) = (1 to n).map(id =>
      record("snapshot", s"""{"id":$id,"kind":"b$batch"}""")) :+ state("snapshot", batch)
    def broken(batch: Int) = (1 to 5).map(id =>
      record("broken", s"""{"id":$id,"balance":$batch,"updated":$batch}""")) ++
      Seq(state("broken", batch), complete("broken"))
    def write(lines: Seq[String]): Path = {
      val f = Files.createTempFile("cf-open", ".jsonl")
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      f
    }
    try {
      val f1 = write(broken(1) ++ snapshot(1, 10) :+ complete("snapshot"))
      new SubprocessSource("cf", twoStreams, Seq("cat", f1.toString)).sync(cache, spark)
      assert(cache.table("snapshot").count() == 10)
      spark.sql(s"ALTER TABLE ${cache.tableName("broken")} RENAME TO `${cache.database}`.`broken_data`")
      spark.sql(s"CREATE VIEW ${cache.tableName("broken")} AS SELECT * FROM `${cache.database}`.`broken_data`")

      // `broken` completes first and fails; `snapshot`'s records and
      // state are read, but its COMPLETE never comes before the stop
      val f2 = write(broken(2) ++ snapshot(2, 3))
      val cmd = Seq("/bin/sh", "-c", s"cat $f2; exec sleep 120")
      intercept[org.apache.spark.sql.AnalysisException] {
        new SubprocessSource("cf", twoStreams, cmd).sync(cache, spark)
      }
      val rows = cache.table("snapshot").select("id", "kind").as[(Long, String)].collect()
      assert(rows.sortBy(_._1).toSeq == (1L to 10L).map(_ -> "b1"))
      assert(cache.latestState("cf", "snapshot").exists(_.contains(""""cursor":1""")))
      assert(leftovers(cache).isEmpty)
      assert(spillFiles() == before)
      Seq(f1, f2).foreach(Files.delete)
    } finally cache.dropAll()
  }

  test("workers' jobs carry the caller's job group, and cancelJobGroup reaches them") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val started = new CountDownLatch(2)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        groups.add(String.valueOf(g))
        if (g == "cf-cancel") started.countDown()
      }
    }
    GraftBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("cf-group", "concurrent finalize")
      val threads = new ConcurrentLinkedQueue[String]()
      StreamPool.run(spark, Seq("a", "b", "c")) { _ =>
        threads.add(Thread.currentThread().getName)
        sc.parallelize(1 to 4, 2).count()
      }
      GraftBridge.drainListenerBus(sc)
      assert(groups.asScala.toSeq == Seq.fill(3)("cf-group"))
      assert(threads.asScala.forall(_.startsWith("graft-stream-")))

      sc.setJobGroup("cf-cancel", "cancelled finalize", interruptOnCancel = true)
      val canceller = new Thread(() => {
        if (started.await(60, TimeUnit.SECONDS)) sc.cancelJobGroup("cf-cancel")
      })
      canceller.start()
      val t0 = System.nanoTime()
      val err = intercept[org.apache.spark.SparkException] {
        StreamPool.run(spark, Seq("x", "y")) { _ =>
          sc.parallelize(1 to 2, 2).map { i => Thread.sleep(30000); i }.count()
        }
      }
      canceller.join()
      assert((System.nanoTime() - t0) / 1e9 < 25)
      // the first failure is rethrown, the other one rides along
      assert(err.getSuppressed.length == 1)
      assert((err +: err.getSuppressed.toSeq).forall(
        _.getMessage.toLowerCase(java.util.Locale.ROOT).contains("cancel")))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("wire names that normalize to one table append and merge correctly") {
    val sameTable = ConfiguredCatalog(Seq(
      mergeStream("acct-list"), mergeStream("acct_list"),
      ConfiguredStream("user-events", eventsSchema, cursorField = Some("id")),
      ConfiguredStream("user_events", eventsSchema, cursorField = Some("id"))))
    val cache = SparkCache.fresh(spark, "graft_test_cf_same")
    try {
      val expected = scala.collection.mutable.Map.empty[Long, Long]
      var events = 0
      (1 to 2).foreach { b =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        (1 to 40).foreach { i =>
          val id = (b - 1) * 20 + i // batch 2 updates ids 21-40, adds 41-60
          expected(id.toLong) = (b * 1000 + i).toLong
          val wire = if (i % 2 == 0) "acct-list" else "acct_list"
          out += record(wire, s"""{"id":$id,"balance":${b * 1000 + i},"updated":$b}""")
          events += 1
          val ev = if (i % 3 == 0) "user-events" else "user_events"
          out += record(ev, s"""{"id":$events,"kind":"k"}""")
        }
        Seq("acct-list", "acct_list", "user-events", "user_events").foreach(out += complete(_))
        val f = Files.createTempFile("cf-same-table", ".jsonl")
        Files.write(f, out.mkString("\n").getBytes("UTF-8"))
        new SubprocessSource("cf", sameTable, Seq("cat", f.toString), chunkSize = 15)
          .sync(cache, spark)
        Files.delete(f)
        val acct = cache.table("acct_list").select("id", "balance").as[(Long, Long)].collect()
        assert(acct.length == expected.size)
        assert(acct.toMap == expected.toMap)
        val ev = cache.table("user_events").select("id").as[Long].collect().toSeq.sorted
        assert(ev == (1L to events.toLong))
      }
      assert(leftovers(cache).isEmpty)
    } finally cache.dropAll()
  }
}

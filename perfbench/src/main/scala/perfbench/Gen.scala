package perfbench

import java.io.{BufferedOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Writes connector protocol lines and counts what it wrote. */
final class ProtocolWriter(out: OutputStream) {
  var lines = 0L
  var records = 0L
  var payloadBytes = 0L
  // A fixed emitted_at keeps the bytes a pure function of the seed.
  private val EmittedAt = 1767225600000L

  private def put(s: String): Unit = { out.write(s.getBytes(UTF_8)); lines += 1 }

  def record(stream: String, data: String): Unit = {
    val d = data.getBytes(UTF_8)
    payloadBytes += d.length
    records += 1
    out.write(s"""{"type":"RECORD","record":{"stream":"$stream","data":""".getBytes(UTF_8))
    out.write(d)
    put(s""","emitted_at":$EmittedAt}}""" + "\n")
  }

  def state(body: String): Unit = put(s"""{"type":"STATE","state":$body}""" + "\n")

  def log(message: String): Unit =
    put(s"""{"type":"LOG","log":{"level":"INFO","message":"$message"}}""" + "\n")

  def complete(stream: String): Unit = put(
    s"""{"type":"TRACE","trace":{"type":"STREAM_STATUS","emitted_at":$EmittedAt,""" +
      s""""stream_status":{"stream_descriptor":{"name":"$stream"},"status":"COMPLETE"}}}""" + "\n")
}

/** What one stream of the cache must hold after a sync. `sumCents` is the
  * sum of the stream's decimal column in hundredths. */
final case class StreamExpect(rows: Long, sumCents: Long, state: Option[String])

/** One generated protocol file and the model of what it must produce. */
final case class Emitted(lines: Long, records: Long, payloadBytes: Long,
    streams: Map[String, StreamExpect])

object Gen {

  def stateBody(stream: String, cursorField: String, cursor: Long): String =
    s"""{"type":"STREAM","stream":{"stream_descriptor":{"name":"$stream"},""" +
      s""""stream_state":{"$cursorField":$cursor}}}"""

  def cents(c: Long): String = {
    val sign = if (c < 0) "-" else ""
    val a = math.abs(c)
    f"$sign${a / 100}.${a % 100}%02d"
  }

  private val Words = Array("data", "stream", "merge", "record", "cursor", "state",
    "sync", "table", "cache", "schema", "column", "batch", "query", "filter",
    "value", "window", "join", "key", "row", "scan", "spark", "parquet", "delta",
    "shard", "token", "corpus", "dedup", "vector", "source", "field", "naïve",
    "café", "数据", "流", "quote\\\"d", "line")

  def words(r: SplittableRandom, n: Int): String = {
    val b = new StringBuilder
    var i = 0
    while (i < n) { if (i > 0) b.append(' '); b.append(Words(r.nextInt(Words.length))); i += 1 }
    b.toString
  }

  def withFile[T](path: Path)(body: ProtocolWriter => T): T = {
    val out = new BufferedOutputStream(Files.newOutputStream(path), 1 << 20)
    try body(new ProtocolWriter(out)) finally out.close()
  }

  /** Catalog JSON for `streams` given as (name, properties JSON, pk, cursor). */
  def catalogJson(streams: Seq[(String, String, Option[String], Option[String])]): String =
    streams.map { case (name, props, pk, cursor) =>
      val pkJson = pk.map(k => s""","source_defined_primary_key":[["$k"]]""").getOrElse("")
      val cursorJson = cursor.map(c => s""","default_cursor_field":["$c"]""").getOrElse("")
      s"""{"name":"$name","json_schema":{"type":"object","properties":$props}$pkJson$cursorJson}"""
    }.mkString("""{"streams":[""", ",", "]}")
}

/**
 * The full-refresh connector file of `sync_append`: one wide numeric stream
 * shaped like lineitem, one text-heavy stream and `smallStreams` small
 * streams with nested, array and union-typed fields. Records of all
 * streams are interleaved, STATE messages are interleaved with them, and
 * every stream ends with TRACE COMPLETE after its last record and state.
 */
final class AppendGen(seed: Long, val wideRows: Int, val textRows: Int,
    val smallStreams: Int = 20) {
  import Gen._

  val wide = "lineitem"
  val text = "reviews"
  val small: Seq[String] = (0 until smallStreams).map(i => f"s$i%02d")
  def streams: Seq[String] = Seq(wide, text) ++ small

  def catalog: String = Gen.catalogJson(
    Seq(
      (wide, """{"l_orderkey":{"type":"integer"},"l_partkey":{"type":"integer"},""" +
        """"l_suppkey":{"type":"integer"},"l_linenumber":{"type":"integer"},""" +
        """"l_quantity":{"type":"number"},"l_extendedprice":{"type":"number"},""" +
        """"l_discount":{"type":"number"},"l_tax":{"type":"number"},""" +
        """"l_returnflag":{"type":"string"},"l_linestatus":{"type":"string"},""" +
        """"l_shipdate":{"type":"string","format":"date"}}""", None, None),
      (text, """{"review_id":{"type":"integer"},"Product_Id":{"type":"integer"},""" +
        """"Title":{"type":"string"},"Body":{"type":"string"},""" +
        """"score":{"type":"number"},"posted_at":{"type":"string","format":"date-time"}}""",
        None, None)) ++
      small.map(s => (s, """{"id":{"type":"integer"},"name":{"type":"string"},""" +
        """"amount":{"type":"number"},""" +
        """"meta":{"type":"object","properties":{"a":{"type":"integer"},"b":{"type":"string"}}},""" +
        """"variant":{"type":["null","string","object"]},""" +
        """"labels":{"type":"array","items":{"type":"string"}},""" +
        """"updated_at":{"type":"string","format":"date-time"}}""", None, None)))

  /** The decimal column whose sum the check compares, per stream. */
  def sumColumn(stream: String): String =
    if (stream == wide) "l_extendedprice" else if (stream == text) "score" else "amount"

  def write(path: Path): Emitted = Gen.withFile(path)(w => emit(w))

  def emit(w: ProtocolWriter): Emitted = {
    val r = new SplittableRandom(seed)
    val rows = mutable.LinkedHashMap(streams.map(_ -> 0L): _*)
    val sums = mutable.LinkedHashMap(streams.map(_ -> 0L): _*)
    val states = mutable.LinkedHashMap.empty[String, String]
    val smallSizes = small.map(_ => 50 + r.nextInt(250))
    val smallTotal = smallSizes.sum
    // emit the text and small records evenly between wide records
    val textEvery = math.max(1, wideRows / math.max(1, textRows))
    val smallEvery = math.max(1, wideRows / math.max(1, smallTotal))
    val smallQueue = mutable.Queue(small.zip(smallSizes).flatMap { case (s, n) =>
      (0 until n).map(i => (s, i, i == n - 1)) }: _*)
    var textDone = 0
    w.log(s"perfbench append source seed=$seed")

    def state(s: String, field: String, cursor: Long): Unit = {
      val b = stateBody(s, field, cursor); w.state(b); states(s) = b
    }
    def add(s: String, c: Long): Unit = { rows(s) += 1; sums(s) += c }

    def emitText(): Unit = {
      val id = textDone.toLong
      val c = r.nextLong(100000)
      val body = Gen.words(r, 60 + r.nextInt(180))
      w.record(text, s"""{"review_id":$id,"Product_Id":${r.nextInt(5000)},""" +
        s""""Title":"${Gen.words(r, 3 + r.nextInt(6))}","Body":"$body",""" +
        s""""score":${cents(c)},"posted_at":"2025-0${1 + r.nextInt(9)}-1${r.nextInt(10)}T0${r.nextInt(10)}:00:00Z"}""")
      add(text, c)
      textDone += 1
      if (textDone % 2000 == 0) state(text, "review_id", id)
    }

    def emitSmall(): Unit = {
      val (s, i, last) = smallQueue.dequeue()
      val c = r.nextLong(2000000) - 500000
      val variant = r.nextInt(4) match {
        case 0 => "null"
        case 1 => s""""v${r.nextInt(100)}""""
        case 2 => s"""{"nested_column":"n${r.nextInt(100)}","depth":{"k":${r.nextInt(9)}}}"""
        case _ => s""""${Gen.words(r, 2)}""""
      }
      val labels = (0 until r.nextInt(4)).map(_ => s""""l${r.nextInt(20)}"""").mkString("[", ",", "]")
      w.record(s, s"""{"id":$i,"name":"${s}_$i","amount":${cents(c)},""" +
        s""""meta":{"a":${r.nextInt(1000)},"b":"${Gen.words(r, 1)}"},"variant":$variant,""" +
        s""""labels":$labels,"updated_at":"2025-06-0${1 + r.nextInt(9)}T12:00:00Z"}""")
      add(s, c)
      if (last) state(s, "id", i.toLong)
    }

    var i = 0
    while (i < wideRows) {
      val qty = 1 + r.nextInt(50)
      val price = qty.toLong * (90000 + r.nextLong(120000))
      val day = 1 + r.nextInt(28)
      w.record(wide, s"""{"l_orderkey":${i / 4},"l_partkey":${r.nextInt(20000)},""" +
        s""""l_suppkey":${r.nextInt(1000)},"l_linenumber":${1 + i % 4},"l_quantity":$qty,""" +
        s""""l_extendedprice":${cents(price)},"l_discount":0.0${r.nextInt(10)},""" +
        s""""l_tax":0.0${r.nextInt(9)},"l_returnflag":"${"ANR".charAt(r.nextInt(3))}",""" +
        s""""l_linestatus":"${"OF".charAt(r.nextInt(2))}",""" +
        f""""l_shipdate":"${1995 + r.nextInt(7)}-${1 + r.nextInt(12)}%02d-$day%02d"}""")
      add(wide, price)
      i += 1
      if (i % 25000 == 0) state(wide, "l_orderkey", (i - 1) / 4L)
      if (i % textEvery == 0 && textDone < textRows) emitText()
      if (i % smallEvery == 0 && smallQueue.nonEmpty) emitSmall()
    }
    while (textDone < textRows) emitText()
    while (smallQueue.nonEmpty) emitSmall()
    state(wide, "l_orderkey", (wideRows - 1) / 4L)
    state(text, "review_id", textRows - 1L)
    streams.foreach(w.complete)
    Emitted(w.lines, w.records, w.payloadBytes,
      streams.map(s => s -> StreamExpect(rows(s), sums(s), states.get(s))).toMap)
  }
}

/**
 * The connector files of `sync_incremental`: an initial load, then
 * batches over three streams that resolve to three write methods —
 * `accounts` (PK + cursor: merge), `ledger` (PK + `_ab_cdc_deleted_at`:
 * CDC delete) and `events` (cursor only: append) — together with the
 * model of the rows each table must hold after every batch.
 *
 * Within one batch the versions of an `accounts` key carry the same
 * balance and batch number. Merge keeps one version per key by
 * extraction time, which is one timestamp for the whole batch, so the
 * engine does not define which of them survives; the model checks only
 * what all of them share. The ledger orders by its `lsn` cursor, so its
 * model applies every change in order.
 */
final class IncrementalGen(seed: Long, val accounts0: Int = 20000,
    val ledger0: Int = 20000, val events0: Int = 5000,
    val accountUpdates: Int = 3000, val ledgerChanges: Int = 2000,
    val eventAppends: Int = 2000) {
  import Gen._

  val streams: Seq[String] = Seq("accounts", "ledger", "events")
  private val Tiers = Vector("gold", "silver", "basic")
  private val Kinds = Vector("view", "click", "buy")

  val catalog: String = Gen.catalogJson(Seq(
    ("accounts", """{"account_id":{"type":"integer"},"name":{"type":"string"},""" +
      """"tier":{"type":"string"},"balance":{"type":"number"},"batch":{"type":"integer"},""" +
      """"updated_at":{"type":"integer"}}""", Some("account_id"), Some("updated_at")),
    ("ledger", """{"entry_id":{"type":"integer"},"account_id":{"type":"integer"},""" +
      """"amount":{"type":"number"},"lsn":{"type":"integer"},""" +
      """"_ab_cdc_deleted_at":{"type":["null","string"],"format":"date-time"}}""",
      Some("entry_id"), Some("lsn")),
    ("events", """{"event_id":{"type":"integer"},"account_id":{"type":"integer"},""" +
      """"kind":{"type":"string"},"value":{"type":"number"},"ts":{"type":"integer"}}""",
      None, Some("ts"))))

  private val r = new SplittableRandom(seed)
  private var seq = 0L
  var batch = -1

  val accounts = new MergeModel
  private val accountKeys = mutable.ArrayBuffer.empty[Long] // hot keys first
  private var nextAccount = 0L

  /** The generator never reuses a deleted ledger key. */
  val ledger = new CdcModel
  private val ledgerLive = new KeyPool
  private var nextEntry = 0L

  var eventRows = 0L
  var eventCents = 0L
  private val eventIds = mutable.Set.empty[Long]
  val states = mutable.Map.empty[String, String]

  /** One past the highest key a stream has used so far. */
  def keyBound(stream: String): Long = stream match {
    case "accounts" => nextAccount
    case "ledger" => nextEntry
    case _ => seq + 1
  }

  /** Live keys of a stream in [lo, hi). */
  def liveIn(stream: String, lo: Long, hi: Long): Long = stream match {
    case "accounts" => math.max(0L, math.min(hi, nextAccount) - math.max(lo, 0L))
    case "ledger" => (lo until hi).count(ledger.live.contains).toLong
    case _ => (lo until hi).count(eventIds.contains).toLong
  }

  /** Payload bytes of the rows the model expects to be live now. */
  def livePayloadBytes: Long = accountBytes.values.sum + ledgerBytes.values.sum + eventBytes
  private val accountBytes = mutable.LongMap.empty[Long]
  private val ledgerBytes = mutable.LongMap.empty[Long]
  private var eventBytes = 0L

  def expect: Map[String, StreamExpect] = Map(
    "accounts" -> StreamExpect(accounts.count, accounts.sumCents, states.get("accounts")),
    "ledger" -> StreamExpect(ledger.count, ledger.sumCents, states.get("ledger")),
    "events" -> StreamExpect(eventRows, eventCents, states.get("events")))

  private def balance(key: Long, b: Int): Long = {
    val h = new SplittableRandom(seed * 1000003L + key * 7919L + b).nextLong(10000000L)
    h - 2000000L
  }

  /** Log-uniform rank in [0, n): a Zipf(1)-like skew toward low ranks. */
  private def zipfRank(n: Int): Int =
    math.min(n - 1, (math.exp(r.nextDouble() * math.log(n + 1.0)) - 1).toInt)

  private def accountRecord(w: ProtocolWriter, key: Long): Unit = {
    seq += 1
    val bal = balance(key, batch)
    val data = s"""{"account_id":$key,"name":"acct-$key","tier":"${Tiers(r.nextInt(3))}",""" +
      s""""balance":${cents(bal)},"batch":$batch,"updated_at":$seq}"""
    w.record("accounts", data)
    accounts.upsert(key, bal, batch)
    accountBytes(key) = data.getBytes(UTF_8).length
  }

  private def ledgerRecord(w: ProtocolWriter, key: Long, delete: Boolean): Unit = {
    seq += 1
    val amt = r.nextLong(1000000L) - 200000L
    val del = if (delete) "\"2025-01-01T00:00:00Z\"" else "null"
    val data = s"""{"entry_id":$key,"account_id":${r.nextLong(math.max(1, nextAccount))},""" +
      s""""amount":${cents(amt)},"lsn":$seq,"_ab_cdc_deleted_at":$del}"""
    w.record("ledger", data)
    ledger.change(key, amt, seq, delete)
    if (delete) { ledgerLive.remove(key); ledgerBytes.remove(key) }
    else ledgerBytes(key) = data.getBytes(UTF_8).length
  }

  private def eventRecord(w: ProtocolWriter): Unit = {
    seq += 1
    val v = r.nextLong(50000)
    val data = s"""{"event_id":$seq,"account_id":${r.nextLong(math.max(1, nextAccount))},""" +
      s""""kind":"${Kinds(r.nextInt(3))}","value":${cents(v)},"ts":$seq}"""
    w.record("events", data)
    eventRows += 1; eventCents += v; eventBytes += data.getBytes(UTF_8).length
    eventIds += seq
  }

  private def newAccount(w: ProtocolWriter): Unit = {
    val k = nextAccount; nextAccount += 1
    accountKeys += k
    accountRecord(w, k)
  }

  private def newEntry(w: ProtocolWriter): Unit = {
    val k = nextEntry; nextEntry += 1
    ledgerLive.add(k)
    ledgerRecord(w, k, delete = false)
  }

  private def closeBatch(w: ProtocolWriter): Unit = {
    Seq("accounts" -> "updated_at", "ledger" -> "lsn", "events" -> "ts").foreach { case (s, f) =>
      val b = stateBody(s, f, seq); w.state(b); states(s) = b
    }
    streams.foreach(w.complete)
  }

  /** Write the next batch (the initial load first) and advance the model. */
  def next(w: ProtocolWriter): Emitted = {
    batch += 1
    val startLines = w.lines
    if (batch == 0) {
      (0 until accounts0).foreach(_ => newAccount(w))
      // hot keys are a seeded choice, not the lowest ids
      val shuffled = scala.util.Random.javaRandomToRandom(new java.util.Random(seed))
        .shuffle(accountKeys.toSeq)
      accountKeys.clear(); accountKeys ++= shuffled
      (0 until ledger0).foreach(_ => newEntry(w))
      (0 until events0).foreach(_ => eventRecord(w))
    } else {
      val inserts = accountUpdates / 10
      val deletes = ledgerChanges / 20
      val ledgerInserts = ledgerChanges / 10
      // one stream after another would hide the per-record interleaving a
      // real connector shows, so the three streams take turns
      val plan = mutable.ArrayBuffer.empty[Int]
      plan ++= Iterator.fill(accountUpdates - inserts)(0) ++ Iterator.fill(inserts)(1) ++
        Iterator.fill(ledgerChanges - deletes - ledgerInserts)(2) ++
        Iterator.fill(ledgerInserts)(3) ++ Iterator.fill(deletes)(4) ++ Iterator.fill(eventAppends)(5)
      var i = plan.length - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = plan(i); plan(i) = plan(j); plan(j) = t; i -= 1 }
      plan.foreach {
        case 0 => accountRecord(w, accountKeys(zipfRank(accountKeys.length)))
        case 1 => newAccount(w)
        case 2 => ledgerRecord(w, ledgerLive.pick(r), delete = false)
        case 3 => newEntry(w)
        case 4 => ledgerRecord(w, ledgerLive.pick(r), delete = true)
        case _ => eventRecord(w)
      }
    }
    closeBatch(w)
    Emitted(w.lines - startLines, w.records, w.payloadBytes, expect)
  }

  def writeNext(path: Path): Emitted = Gen.withFile(path)(next)
}

/** A set of longs with uniform random picks and O(1) removal. */
final class KeyPool {
  private val keys = mutable.ArrayBuffer.empty[Long]
  private val index = mutable.LongMap.empty[Int]
  def add(k: Long): Unit = { index(k) = keys.length; keys += k }
  def remove(k: Long): Unit = index.remove(k).foreach { i =>
    val last = keys.remove(keys.length - 1)
    if (i < keys.length) { keys(i) = last; index(last) = i }
  }
  def pick(r: SplittableRandom): Long = keys(r.nextInt(keys.length))
}

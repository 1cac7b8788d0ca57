package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.cache.SparkCache
import graft.protocol.{ConfiguredCatalog, WriteStrategy}
import graft.sources.SubprocessSource

/** The merge/CDC expectation model on a hand-worked 5-key example, and the
  * engine on the same example. */
class ModelSpec extends AnyFunSuite with SparkSuite {

  // batch 0: keys 1..5. Batch 1: key 2 three times and key 4 once (one
  // balance per key and batch), key 6 inserted.
  private val accounts0 = Seq((1L, 100L), (2L, 200L), (3L, 300L), (4L, 400L), (5L, 500L))
  private val accounts1 = Seq((2L, 250L), (4L, 450L), (2L, 250L), (6L, 600L), (2L, 250L))
  // ledger (key, amount, lsn, delete): batch 0 keys 1..5 at lsn 1..5; batch 1
  // updates 2 twice, deletes 3 and 5, inserts 6, deletes 4 and re-inserts it.
  private val ledger0 = (1L to 5L).map(k => (k, k * 10, k, false))
  private val ledger1 = Seq((2L, 25L, 6L, false), (3L, 0L, 7L, true), (2L, 27L, 8L, false),
    (5L, 0L, 9L, true), (6L, 60L, 10L, false), (4L, 0L, 11L, true), (4L, 44L, 12L, false))

  private val expectAccounts = Map(1L -> (100L, 0), 2L -> (250L, 1), 3L -> (300L, 0),
    4L -> (450L, 1), 5L -> (500L, 0), 6L -> (600L, 1))
  private val expectLedger = Map(1L -> 10L, 2L -> 27L, 4L -> 44L, 6L -> 60L)

  test("the models apply the hand-worked batches") {
    val m = new MergeModel
    accounts0.foreach { case (k, b) => m.upsert(k, b, 0) }
    accounts1.foreach { case (k, b) => m.upsert(k, b, 1) }
    assert(m.rows.toMap == expectAccounts)
    assert(m.count == 6 && m.sumCents == 2200)

    val c = new CdcModel
    (ledger0 ++ ledger1).foreach { case (k, a, lsn, d) => c.change(k, a, lsn, d) }
    assert(c.live.toMap == expectLedger)
    assert(c.deleted == Set(3L, 5L))
    assert(c.count == 4 && c.sumCents == 141)
  }

  test("the models refuse what they do not define") {
    val m = new MergeModel
    m.upsert(1, 100, 1)
    assertThrows[IllegalArgumentException](m.upsert(1, 100, 0))   // older batch
    assertThrows[IllegalArgumentException](m.upsert(1, 200, 1))   // two balances in a batch
    val c = new CdcModel
    c.change(1, 10, 5, delete = false)
    assertThrows[IllegalArgumentException](c.change(1, 10, 4, delete = false))
  }

  test("the engine's merge and CDC syncs agree with the model on the example") {
    val gen = new IncrementalGen(1)
    val catalog = ConfiguredCatalog.fromCatalogJson(gen.catalog)
    val dir = Files.createDirectories(tmp.resolve("model"))
    def batch(n: Int, acc: Seq[(Long, Long)], led: Seq[(Long, Long, Long, Boolean)]) = {
      val f = dir.resolve(s"batch-$n.jsonl")
      Gen.withFile(f) { w =>
        acc.zipWithIndex.foreach { case ((k, b), i) =>
          w.record("accounts", s"""{"account_id":$k,"name":"a$k","tier":"gold",""" +
            s""""balance":${Gen.cents(b)},"batch":$n,"updated_at":${n * 100 + i}}""")
        }
        led.foreach { case (k, a, lsn, d) =>
          val del = if (d) "\"2025-01-01T00:00:00Z\"" else "null"
          w.record("ledger", s"""{"entry_id":$k,"account_id":1,"amount":${Gen.cents(a)},""" +
            s""""lsn":$lsn,"_ab_cdc_deleted_at":$del}""")
        }
        w.record("events", s"""{"event_id":$n,"account_id":1,"kind":"view","value":1.00,"ts":$n}""")
        w.state(Gen.stateBody("ledger", "lsn", led.map(_._3).max))
        Seq("accounts", "ledger", "events").foreach(w.complete)
      }
      f
    }
    val cache = SparkCache.fresh(spark, "model_spec", Some(tmp.resolve("model_cache").toString))
    try {
      Seq(batch(0, accounts0, ledger0), batch(1, accounts1, ledger1)).foreach { f =>
        val src = new SubprocessSource("model-spec", catalog, Seq("cat", f.toString))
        try src.sync(cache, spark, Seq.empty, WriteStrategy.Auto) finally src.close()
      }
      val acc = cache.table("accounts").select("account_id", "balance", "batch").collect()
        .map(r => r.getLong(0) -> (r.getDecimal(1).movePointRight(2).longValueExact, r.getLong(2).toInt)).toMap
      assert(acc == expectAccounts)
      val led = cache.table("ledger").select("entry_id", "amount").collect()
        .map(r => r.getLong(0) -> r.getDecimal(1).movePointRight(2).longValueExact).toMap
      assert(led == expectLedger)
      assert(cache.table("events").count() == 2)
      assert(SyncChecks.sameJson(cache.latestState("model-spec", "ledger"),
        Some(Gen.stateBody("ledger", "lsn", 12))))
    } finally cache.dropAll()
  }
}

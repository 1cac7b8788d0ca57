package perfbench

import scala.collection.mutable

/**
 * The rows a merge stream must hold: per key, the balance and the batch of
 * the surviving version. All versions of a key within one batch share
 * both, so the model does not depend on which of them the engine keeps;
 * a later batch replaces an earlier one.
 */
final class MergeModel {
  val rows = mutable.LongMap.empty[(Long, Int)]

  def upsert(key: Long, balanceCents: Long, batch: Int): Unit = {
    rows.get(key).foreach { case (bal, b) =>
      require(b < batch || (b == batch && bal == balanceCents),
        s"key $key: batch $batch after batch $b, or two balances in one batch")
    }
    rows(key) = (balanceCents, batch)
  }

  def count: Long = rows.size.toLong
  def sumCents: Long = rows.valuesIterator.map(_._1).sum
}

/**
 * The rows a CDC-delete stream must hold: changes apply in cursor (lsn)
 * order, the latest change of a key wins, and a key whose latest change
 * is a delete is gone. Cursors must arrive in increasing order — the feed
 * the engine's tombstone-dropping merge is defined for.
 */
final class CdcModel {
  val live = mutable.LongMap.empty[Long]
  val deleted = mutable.Set.empty[Long]
  private var lastLsn = Long.MinValue

  def change(key: Long, amountCents: Long, lsn: Long, delete: Boolean): Unit = {
    require(lsn > lastLsn, s"lsn $lsn after $lastLsn")
    lastLsn = lsn
    if (delete) { live.remove(key); deleted += key }
    else { live(key) = amountCents; deleted -= key }
  }

  def count: Long = live.size.toLong
  def sumCents: Long = live.valuesIterator.sum
}

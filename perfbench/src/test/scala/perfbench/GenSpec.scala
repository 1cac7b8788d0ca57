package perfbench

import java.io.ByteArrayOutputStream

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def appendBytes(seed: Long): (Array[Byte], Emitted) = {
    val out = new ByteArrayOutputStream
    val e = new AppendGen(seed, 2000, 100, 4).emit(new ProtocolWriter(out))
    (out.toByteArray, e)
  }

  private def incrementalBytes(seed: Long, batches: Int): Seq[Array[Byte]] = {
    val g = new IncrementalGen(seed, 500, 500, 100, 200, 100, 100)
    (0 to batches).map { _ =>
      val out = new ByteArrayOutputStream
      g.next(new ProtocolWriter(out))
      out.toByteArray
    }
  }

  test("the same seed gives identical append bytes and model") {
    val (a, ea) = appendBytes(7)
    val (b, eb) = appendBytes(7)
    assert(java.util.Arrays.equals(a, b))
    assert(ea == eb)
    assert(!java.util.Arrays.equals(a, appendBytes(8)._1))
  }

  test("the same seed gives identical incremental batches") {
    val a = incrementalBytes(11, 4)
    val b = incrementalBytes(11, 4)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    assert(!java.util.Arrays.equals(a(2), incrementalBytes(12, 4)(2)))
  }

  test("every append stream ends with its state and one TRACE COMPLETE") {
    val (bytes, e) = appendBytes(3)
    val lines = new String(bytes, "UTF-8").split("\n").toSeq
    val completes = lines.filter(_.contains("\"COMPLETE\""))
    assert(completes.size == e.streams.size)
    assert(lines.takeRight(e.streams.size) == completes)
    assert(e.streams.values.forall(_.state.nonEmpty))
    assert(e.records == lines.count(_.startsWith("{\"type\":\"RECORD\"")))
    assert(e.streams.values.map(_.rows).sum == e.records)
  }

  test("incremental batches carry hot keys, inserts and deletes") {
    val g = new IncrementalGen(5, 1000, 1000, 100, 1000, 1000, 100)
    g.next(new ProtocolWriter(new ByteArrayOutputStream))
    val out = new ByteArrayOutputStream
    g.next(new ProtocolWriter(out))
    val lines = new String(out.toByteArray, "UTF-8").split("\n")
    val accountIds = lines.filter(_.contains("\"stream\":\"accounts\""))
      .map(l => "\"account_id\":(\\d+)".r.findFirstMatchIn(l).get.group(1).toLong)
    val hottest = accountIds.groupBy(identity).values.map(_.length).max
    assert(hottest >= 5, s"hottest key has only $hottest versions")
    assert(accountIds.filter(_ >= 1000).distinct.length == 100) // 10% inserts
    assert(lines.count(_.contains("\"_ab_cdc_deleted_at\":\"")) == 50) // 5% deletes
    assert(g.ledger.count == 1000 + 100 - 50)
  }
}

package graft.sources

import java.util.concurrent.{CompletableFuture, ConcurrentLinkedQueue, Executors, ThreadFactory, ThreadPoolExecutor}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * The one pool a sync finalizes its streams through. Streams are
 * independent tables, so their finalizes (normalize → write strategy →
 * state) overlap; each stream keeps its own order — its state is written
 * by the same closure, after its data (the reference's per-stream
 * discipline, `sql_processor.py:305-378`).
 *
 *  - size `min(lanes, defaultParallelism)`: no config key, never more
 *    threads than the scheduler has slots;
 *  - a lane is a table: streams whose names normalize to the same table
 *    run one after another, in submission order (each lane's work is
 *    chained onto that lane's previous future);
 *  - the threads start in the constructor, on the caller's thread, so
 *    every worker inherits the caller's Spark local properties (job
 *    group, description, scheduler pool) and `cancelJobGroup` reaches
 *    the workers' jobs;
 *  - [[await]] waits for EVERY submitted closure, with no timeout, then
 *    rethrows the first failure with the others attached as suppressed —
 *    a caller never sees an error while the cache is still changing.
 */
final class StreamPool(spark: SparkSession, streams: Seq[String]) {

  private val size = math.max(1, math.min(
    streams.map(StreamPool.lane).distinct.size,
    spark.sparkContext.defaultParallelism))

  private val executor = {
    val n = new AtomicInteger(0)
    val factory: ThreadFactory = r => {
      val t = new Thread(r, s"graft-stream-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
    val e = Executors.newFixedThreadPool(size, factory)
      .asInstanceOf[ThreadPoolExecutor]
    e.prestartAllCoreThreads()
    e
  }

  // lane → the future of its last submitted closure; guarded by itself
  private val tails = mutable.Map.empty[String, CompletableFuture[Void]]
  private val failures = new ConcurrentLinkedQueue[Throwable]()

  /** Queue `work` on `stream`'s lane; returns at once. */
  def submit(stream: String)(work: => Unit): Unit = tails.synchronized {
    val lane = StreamPool.lane(stream)
    val prev = tails.getOrElse(lane, CompletableFuture.completedFuture[Void](null))
    tails(lane) = prev.thenRunAsync(
      () => try work catch { case t: Throwable => failures.add(t) }, executor)
  }

  /** Wait for every submitted closure, shut the pool down, and rethrow
    * the first failure (the rest attached as suppressed). An interrupt
    * does not cut the wait short (`join` re-asserts it afterwards). */
  def await(): Unit = {
    try CompletableFuture.allOf(tails.synchronized(tails.values.toSeq): _*).join()
    finally executor.shutdown()
    val fs = failures.asScala.toList
    fs.headOption.foreach { first =>
      fs.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
  }
}

object StreamPool {

  /** The table a stream lands in: streams on one lane never overlap. */
  private def lane(stream: String): String =
    graft.names.NameNormalizer.normalize(stream)

  /** Run `finalize` once per stream through a per-call pool; returns
    * after every stream's closure has finished (see [[StreamPool]]). */
  def run(spark: SparkSession, streams: Seq[String])(finalize: String => Unit): Unit = {
    val pool = new StreamPool(spark, streams)
    try streams.foreach(s => pool.submit(s)(finalize(s)))
    finally pool.await()
  }
}

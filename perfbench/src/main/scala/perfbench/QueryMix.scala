package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.sources.Tables

object QueryMix {
  /** Three to nine jobs each. At the small tables the workload reads,
    * single-task scans and driver gaps set their time, not task time. */
  val Sql: Seq[String] = Seq("q1_pricing_summary", "q3_join_agg", "q4_star_join",
    "q6_window_rank", "q13_json_extract", "q18_cube")
  /** 35-49 jobs each with eager checkpoints: job count and driver gaps. */
  val Curation: Seq[String] = Seq("q61_dedup_clusters", "q229_hits")
  val All: Seq[String] = Sql ++ Curation

  val TableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Order-insensitive digest of a result: row count, xor and sum of row
    * hashes, collected by an observation on the same action. */
  def digested(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val h = xxhash64(to_json(struct(df.columns.toSeq.map(df.col): _*)))
    (df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000000007L))).as("s")), obs)
  }

  def digestOf(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}/${m("x")}/${m("s")}"
  }
}

/**
 * `query_mix`: the engine's query functions over seeded tables into the
 * `noop` sink, one pass over the `sql` list and one over the `curation`
 * list per repetition, each in a seeded order. A first pass writes every
 * result to parquet for the DuckDB oracle check and records each result's
 * digest, which every later pass must reproduce.
 */
final class QueryMix extends Workload {
  import QueryMix._

  private var dir: String = _
  private val digests = mutable.Map.empty[String, String]
  /** Passes keep warming up, so every run times the same passes whatever
    * its speed: a slow run would otherwise fit fewer, earlier and slower
    * passes into its window. `--seconds` is a floor; passes after these
    * are checked but not timed into the metrics. */
  val TimedPasses = 3

  override def setUp(h: Harness): Unit = {
    dir = h.opts.tables.toString
    TableNames.foreach(t => Tables.load(h.spark, dir, t).schema)
  }

  /** The check pass: results to parquet, digests recorded, oracle SQL
    * written next to them for the launcher's DuckDB comparison. */
  override def warmUp(h: Harness, out: Outcome): Unit = {
    val check = Files.createDirectories(h.opts.root.resolve("check"))
    All.foreach { q =>
      out.op(s"check pass $q") {
        val ((), _, jobs) = h.timed {
          val (df, obs) = digested(SparkEntry.queries(q)(h.spark, dir))
          df.coalesce(1).write.mode("overwrite").parquet(check.resolve(q).toString)
          digests(q) = digestOf(obs)
        }
        jobs > 0
      }
    }
    Files.writeString(check.resolve("oracle_sql.json"),
      Json.render(All.map(q => q -> SparkEntry.oracleSql(q)).toMap))
  }

  override def run(h: Harness, out: Outcome): Unit = {
    val t = h.tracer
    val sqlPass = mutable.ArrayBuffer.empty[Double]
    val curPass = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Boolean]
    val heap = mutable.ArrayBuffer.empty[Double]
    val held = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val order = new scala.util.Random(h.opts.seed)
    val timedPasses = h.timedReps(TimedPasses)
    val t0 = System.nanoTime()
    var rep = 0
    while (h.more(rep, t0, timedPasses)) {
      val timed = rep < timedPasses
      val tr = timed && h.traceRep(rep)
      if (timed) traced += tr
      val repStart = t.spans.size
      val figures = mutable.Map.empty[String, Double]
      Seq(Sql -> sqlPass, Curation -> curPass).foreach { case (list, passes) =>
        val spansBefore = t.spans.size
        var total = 0.0
        order.shuffle(list).foreach { q =>
          var digest = ""
          val (_, dt, jobs) = h.timed {
            val df = t.span(s"queries.$q.build")(SparkEntry.queries(q)(h.spark, dir))
            val (observed, obs) = digested(df)
            t.span(s"queries.$q.exec") {
              observed.write.format("noop").mode("overwrite").save()
            }
            digest = digestOf(obs)
          }
          total += dt
          out.op(s"pass $rep $q") {
            if (jobs == 0) System.err.println(s"[perfbench] $q launched no Spark job")
            if (digest != digests(q)) System.err.println(s"[perfbench] $q digest $digest != ${digests(q)}")
            jobs > 0 && digest == digests(q)
          }
          if (tr) {
            val spans = t.spans.drop(spansBefore)
            figures ++= Layers.query(t, q, spans.filter(_.name == s"queries.$q.build").last,
              spans.filter(_.name == s"queries.$q.exec").last)
          }
        }
        if (timed) passes += total
        if (tr) figures(if (list eq Sql) "queries.sql.slot_util" else "queries.curation.slot_util") =
          Layers.slotUtil(t, t.spans.drop(spansBefore).filter(_.parent == 0).toSeq, h.cpus)
      }
      t.recording = false
      if (timed) {
        held += heldBlocksMb(h)
        heap += h.retainedHeapMb()
      }
      if (tr) {
        figures("queries.spill_bytes") =
          t.sums(t.jobsIn(t.spans.drop(repStart).map(_.id).toSet)).spill.toDouble
        figures("queries.held_blocks_mb") = held.last
        layers += figures.toMap
      }
      rep += 1
    }
    val passes = sqlPass.zip(curPass).map { case (a, b) => a + b }.toSeq
    out.endToEnd("op_p50_s") = Metric(Stats.median(passes), "s")
    out.endToEnd("retained_heap_mb") = Metric(Stats.median(heap.toSeq), "MB")
    out.named ++= Seq(
      "sql_pass_s" -> Map("value" -> Stats.median(sqlPass.toSeq), "unit" -> "s", "samples" -> sqlPass.size),
      "curation_pass_s" -> Map("value" -> Stats.median(curPass.toSeq), "unit" -> "s", "samples" -> curPass.size),
      "held_blocks_mb" -> Map("value" -> Stats.median(held.toSeq), "unit" -> "MB"),
      "pass_s" -> passes, "untimed_passes" -> (rep - timedPasses))
    if (h.opts.trace) {
      out.layers ++= Layers.medians(layers.toSeq).map { case (k, v) => k -> Metric(v, Main.unitOf(k)) }
      val on = passes.zip(traced).filter(_._2).map(_._1)
      val off = passes.zip(traced).filterNot(_._2).map(_._1)
      out.layers("trace.overhead_frac") = Metric(Main.overhead(on, off), "frac")
    }
  }

  /** Block storage still held by the executors, in MB. */
  private def heldBlocksMb(h: Harness): Double =
    h.spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, remaining) => max - remaining }.sum / 1048576.0
}

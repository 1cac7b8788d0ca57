package perfbench

import scala.collection.mutable

/**
 * Per-layer figures computed from the spans, jobs and SQL executions the
 * tracer recorded. A workload collects one map per traced repetition and
 * reports the median of each figure.
 */
object Layers {

  /** Classes of the SQL executions a sync runs, by what they write. */
  sealed trait Kind
  case object Write extends Kind     // stream tables and __merge_tmp_*
  case object State extends Kind     // _airbyte_state
  case object Register extends Kind  // _airbyte_streams
  case object Swap extends Kind      // rename and drop
  case object Probe extends Kind     // jobs that write nothing
  case object Meta extends Kind      // catalog commands without jobs

  private val Writers = Seq("InsertIntoHadoopFsRelationCommand",
    "CreateDataSourceTableAsSelectCommand", "SaveAsV1TableCommand", "AppendData",
    "CreateTableAsSelect", "ReplaceTableAsSelect", "OverwriteByExpression")

  def kind(family: Seq[ExecRec], hasJobs: Boolean): Kind = {
    val text = family.map(x => s"${x.node} ${x.command} ${x.plan}").mkString("\n")
    val cmd = family.map(x => s"${x.node} ${x.command}").mkString(" ")
    if (cmd.contains("AlterTableRename") || cmd.contains("RenameTable") ||
      cmd.contains("DropTable")) Swap
    else if (Writers.exists(text.contains)) {
      if (text.contains("_airbyte_state")) State
      else if (text.contains("_airbyte_streams")) Register
      else Write
    } else if (hasJobs) Probe
    else Meta
  }

  /** Layer figures of one traced sync span. */
  def sync(t: Tracer, s: Span, lines: Long, streams: Int, payloadBytes: Long,
      cacheFiles: Long): Map[String, Double] = {
    val ids = t.subtree(s)
    val js = t.jobsIn(ids)
    val xs = t.execsIn(ids)
    val firstJobMs = js.headOption.map(_.startMs)
    val loop = firstJobMs.map(f => (f - s.startMs) / 1e3).getOrElse(s.seconds)
    val byKind = mutable.Map.empty[Kind, Double].withDefaultValue(0.0)
    var written = 0L
    val roots = xs.filter(x => x.execId == x.rootId)
    val familyOf = xs.groupBy(_.rootId)
    roots.foreach { r =>
      val fam = familyOf.getOrElse(r.execId, Seq(r))
      val famIds = fam.map(_.execId).toSet
      val famJobs = js.filter(j => famIds(j.execId))
      val k = kind(fam, famJobs.nonEmpty)
      byKind(k) += r.seconds
      if (k == Write) written += famJobs.map(_.sums.outputBytes).sum
    }
    // jobs outside any SQL execution write nothing through the catalog
    js.filter(_.execId < 0).foreach(j => byKind(Probe) += (j.endMs - j.startMs) / 1e3)
    val tail = firstJobMs.map(f => (s.endMs - f) / 1e3).getOrElse(0.0)
    val sums = t.sums(js)
    Map(
      "sources.loop_s" -> loop,
      "sources.lines_per_s" -> (if (loop > 0) lines / loop else 0.0),
      "cache.write_s" -> byKind(Write), "cache.probe_s" -> byKind(Probe),
      "cache.swap_s" -> byKind(Swap), "cache.state_s" -> byKind(State),
      "cache.register_s" -> byKind(Register),
      "cache.gap_s" -> math.max(0.0, tail - t.busySeconds(js)),
      "cache.jobs_per_stream" -> js.size.toDouble / streams,
      "cache.written_per_input_byte" -> written.toDouble / payloadBytes,
      "cache.shuffle_bytes" -> sums.shuffleWrite.toDouble,
      "cache.spill_bytes" -> sums.spill.toDouble,
      "cache.files" -> cacheFiles.toDouble)
  }

  /** Figures of one query: its build span and its exec span. */
  def query(t: Tracer, q: String, build: Span, exec: Span): Map[String, Double] = {
    val js = t.jobsIn(t.subtree(build) ++ t.subtree(exec))
    val sums = t.sums(js)
    Map(s"queries.$q.build_s" -> build.seconds, s"queries.$q.exec_s" -> exec.seconds,
      s"queries.$q.jobs" -> js.size.toDouble,
      s"queries.$q.gap_s" -> math.max(0.0, build.seconds + exec.seconds - t.busySeconds(js)),
      s"queries.$q.task_s" -> sums.runMs / 1e3,
      s"queries.$q.shuffle_bytes" -> sums.shuffleWrite.toDouble)
  }

  /** Share of task slots busy while the jobs of `spans` ran. */
  def slotUtil(t: Tracer, spans: Seq[Span], cpus: Int): Double = {
    val js = t.jobsIn(spans.flatMap(t.subtree).toSet)
    val busy = t.busySeconds(js)
    if (busy <= 0) 0.0 else t.sums(js).taskMs / 1e3 / (busy * cpus)
  }

  /** Median of each figure over the repetitions that reported it. */
  def medians(reps: Seq[Map[String, Double]]): Map[String, Double] =
    reps.flatMap(_.keys).distinct.map(k => k -> Stats.median(reps.flatMap(_.get(k)))).toMap
}

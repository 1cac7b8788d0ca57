package graft.sources

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.protocol._

/**
 * Connector-subprocess executor (reference S1:
 * `airbyte/sources/base.py:758-806`, `airbyte/_executors/base.py:36-170`):
 * spawns an external connector process, streams its stdout protocol
 * lines, supports early termination via a stop event (reference L1/ST6:
 * `islice` + `threading.Event`, `sources/base.py:589-591,798-804`,
 * `datasets/_lazy.py:43-73`).
 *
 * Process boundary handling: the subprocess runs on the DRIVER (exactly
 * like the reference — connectors are single machine-local programs);
 * records are chunked into Spark partitions as they arrive so the
 * normalize/write pipeline downstream runs distributed. A cluster
 * deployment fans out one subprocess per executor via `mapPartitions`
 * over a seed frame when the connector supports partitioned reads.
 */
final class SubprocessSource(
    val name: String,
    val catalog: ConfiguredCatalog,
    val cmd: Seq[String],
    chunkSize: Int = 100000,
    /** Fired with the new config JSON whenever the connector emits a
      * CONTROL/CONNECTOR_CONFIG message mid-run (reference
      * `callbacks.py` + `_connector_base.py:426-434`) — the hook OAuth
      * connectors use to persist refreshed tokens. Observed on every
      * consumption path (read/sync/getRecords/check), like the
      * reference's central message peek. */
    configChangeCallback: Option[String => Unit] = None)
  extends Source with AutoCloseable {

  /** Stop event: set to halt the subprocess mid-stream (ST6). */
  val stopEvent = new AtomicBoolean(false)

  /** Per-connector passthrough log file (reference
    * `_connector_base.py:79` — one per connector instance): protocol
    * LOG messages, TRACE errors, unparseable stdout lines and the
    * stderr stream all land here. Lazy so a source that never runs a
    * process creates no file. */
  lazy val fileLogger: graft.logs.Logs.FileLogger =
    graft.logs.Logs.newPassthroughFileLogger(name)

  /** Temp files this source wrote (hydrated config, state artifacts) —
    * they hold resolved secrets, so they must not outlive the source.
    * Deleted by [[close]]; each is also `deleteOnExit`-registered as a
    * JVM-exit backstop (the reference context-manages its config temp
    * files and deletes them after the connector exits). */
  private val ownedTempFiles =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]

  private[sources] def trackTempFile(p: java.nio.file.Path): java.nio.file.Path = {
    p.toFile.deleteOnExit()
    ownedTempFiles.add(p)
    p
  }

  /** Delete every temp file written for this source (config files hold
    * HYDRATED secrets — callers should close once the connector is done;
    * `deleteOnExit` covers the paths a crash skips). */
  override def close(): Unit = {
    var p = ownedTempFiles.poll()
    while (p != null) {
      try java.nio.file.Files.deleteIfExists(p) catch { case _: Exception => }
      p = ownedTempFiles.poll()
    }
  }

  /**
   * Drain a subprocess's stderr on a daemon thread, keeping only the
   * tail. Without this, a connector that logs more than the OS pipe
   * buffer (~64 KiB) to stderr before emitting its protocol output
   * blocks on write — and we block forever on its stdout. The captured
   * tail feeds failure diagnostics.
   */
  private def drainStderr(proc: Process): () => String = {
    val buf = new java.lang.StringBuilder
    val t = new Thread(() => {
      val r = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getErrorStream, "UTF-8"))
      var line = r.readLine()
      while (line != null) {
        buf.synchronized {
          buf.append(line).append('\n')
          if (buf.length > 8192) buf.delete(0, buf.length - 8192)
        }
        fileLogger.info(line) // stderr stream persists to the connector log
        line = r.readLine()
      }
    }, s"graft-stderr-drain-$name")
    t.setDaemon(true)
    t.start()
    () => buf.synchronized(buf.toString)
  }

  /**
   * Connection check (reference S2: `Source.check`,
   * `airbyte/sources/base.py:367-393`): run the connector's `check`
   * command, read its CONNECTION_STATUS message; SUCCEEDED ⇒ (),
   * FAILED or no status ⇒ exception carrying the connector's message.
   */
  def check(checkCmd: Seq[String]): Unit = {
    val pb = new ProcessBuilder(checkCmd: _*)
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val stderrTail = drainStderr(proc)
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val lines = scala.io.Source.fromInputStream(proc.getInputStream).getLines()
      val status = lines.flatMap { line =>
        val m = AirbyteMessage.parse(line)
        if (m.isEmpty && line.nonEmpty) fileLogger.info(line)
        m.foreach { mm =>
          AirbyteMessage.logMessage(mm).foreach(fileLogger.info)
          AirbyteMessage.traceErrorMessage(mm).foreach(fileLogger.error)
        }
        m
      }
        .collectFirst {
          case m if m.messageType == MessageType.CONNECTION_STATUS =>
            Option(mapper.readTree(m.raw).get("connectionStatus")) match {
              case Some(cs) =>
                (Option(cs.get("status")).map(_.asText()).getOrElse(""),
                  Option(cs.get("message")).map(_.asText()).getOrElse(""))
              case None => ("", "malformed message: no connectionStatus node")
            }
        }
      status match {
        case Some(("SUCCEEDED", _)) => ()
        case Some((s, msg)) =>
          throw new graft.errors.ConnectorCheckFailedError(name, s, msg)
        case None =>
          throw new graft.errors.ConnectorCheckFailedError(name,
            "NO_STATUS", "Connector emitted no CONNECTION_STATUS",
            Some(stderrTail()))
      }
    } finally {
      proc.destroy()
      proc.waitFor()
    }
  }

  /** One connector process and its parsed message stream. [[stop]]
    * kills the process (and anything it spawned) whatever the
    * iterator's position, and is safe from any thread; [[stopped]] is
    * true from its first step on, before anything is killed. */
  private final class ConnectorRun(
      proc: Process, stopFlag: AtomicBoolean, val messages: Iterator[AirbyteMessage]) {
    def stopped: Boolean = stopFlag.get
    def stop(): Unit = {
      stopFlag.set(true)
      proc.descendants().forEach(p => { p.destroy(); () })
      proc.destroy()
      if (!proc.waitFor(5, java.util.concurrent.TimeUnit.SECONDS))
        proc.destroyForcibly().waitFor()
    }
  }

  /** Pull protocol messages from the subprocess, lazily. A connector
    * that EXITS NONZERO fails the read loudly (reference
    * `_executors/base.py` — `AirbyteSubprocessFailedError` with exit
    * code + stderr): without the check, a connector crashing mid-sync
    * is indistinguishable from a clean end-of-stream and partial data
    * would commit silently. Intentional early termination (stop event /
    * record limit) kills the process and is NOT an error. */
  def messages(limit: Option[Long] = None): Iterator[AirbyteMessage] =
    launch(limit).messages

  private def launch(limit: Option[Long]): ConnectorRun = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val stderrTail = drainStderr(proc) // also keeps a chatty connector from blocking
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream, "UTF-8"))
    // this run's own stop signal: set by ConnectorRun.stop, next to the
    // source-wide stop event
    val stopped = new AtomicBoolean(false)
    def stopping: Boolean = stopEvent.get || stopped.get

    val raw = new Iterator[String] {
      private var nextLine: String = null
      private var done = false
      private def advance(): Unit = {
        if (!done && nextLine == null) {
          if (stopping) { // early termination → kill the connector
            proc.destroy(); done = true
          } else {
            nextLine =
              try reader.readLine()
              catch { case _: java.io.IOException if stopping => null }
            if (nextLine == null) {
              done = true
              val code = proc.waitFor()
              if (code != 0 && !stopping) {
                throw new graft.errors.SubprocessFailedError(
                  name, code, Some(stderrTail()))
              }
            }
          }
        }
      }
      def hasNext: Boolean = { advance(); !done }
      def next(): String = { advance(); val l = nextLine; nextLine = null; l }
    }

    val parsed = raw.flatMap { line =>
      val m = AirbyteMessage.parse(line)
      // an unparseable stdout line is likely a stray log — persist it
      // at info, like the reference (`_connector_base.py:489-491`)
      if (m.isEmpty && line.nonEmpty) fileLogger.info(line)
      m
    }.map { m =>
      // central message peek (reference `_peek_airbyte_message`,
      // `_connector_base.py:391-435`): LOG → connector file log at
      // info, TRACE/ERROR → at error, CONTROL/CONNECTOR_CONFIG → the
      // config-change callback; the message then passes through.
      AirbyteMessage.logMessage(m).foreach(fileLogger.info)
      AirbyteMessage.traceErrorMessage(m).foreach(fileLogger.error)
      for (cb <- configChangeCallback; cfg <- AirbyteMessage.connectorConfig(m))
        cb(cfg)
      m
    }
    new ConnectorRun(proc, stopped, limit match {
      case Some(n) =>
        // islice-equivalent: stop the producer once n records are taken
        var taken = 0L
        parsed.takeWhile { m =>
          val go = taken < n
          if (m.messageType == MessageType.RECORD) taken += 1
          if (taken >= n) stopEvent.set(true)
          go
        }
      case None => parsed
    })
  }

  /** Record payloads for one stream, chunked into a distributed Dataset. */
  override def recordJsonl(spark: SparkSession, stream: String): Dataset[String] = {
    import spark.implicits._
    val payloads = messages().flatMap { m =>
      if (m.messageType == MessageType.RECORD &&
        m.streamName.exists(_.equalsIgnoreCase(stream))) m.dataJson
      else None
    }
    // chunk the driver-side stream into partitions (the reference's 100k
    // batch files → here 100k-record Spark partitions)
    val chunks = payloads.grouped(chunkSize).toSeq
    if (chunks.isEmpty) spark.emptyDataset[String]
    else spark.createDataset(chunks.flatten)
      .repartition(math.max(1, chunks.size))
  }

  /** Live lazy read with limit (reference `get_records(stream, limit)`). */
  def getRecords(stream: String, limit: Option[Long] = None): Iterator[String] =
    messages(limit).flatMap { m =>
      if (m.messageType == MessageType.RECORD &&
        m.streamName.exists(_.equalsIgnoreCase(stream))) m.dataJson
      else None
    }

  /**
   * The reference's full message loop (ST1/ST2,
   * `airbyte/shared/sql_processor.py:305-378`): ONE connector run
   * demultiplexed across all selected streams — unlike `read`, which
   * pulls each stream's records separately (and would re-run the
   * connector per stream).
   *
   *  - RECORD → buffered per stream, spilled to local JSONL files every
   *    `chunkSize` records (the reference's 100k batch files,
   *    `_writers/file_writers.py:33` — driver memory stays bounded);
   *  - STATE → pending, keyed by stream (STREAM type) or `_GLOBAL` /
   *    `_LEGACY` (`sql_processor.py:344-360`), LAST message wins;
   *  - TRACE stream COMPLETE → the stream's spilled files, tail buffer
   *    and pending state are handed to a [[StreamPool]] worker, which
   *    runs normalize → write strategy → THEN the stream's state
   *    (at-least-once: state lands only after data does, ST2) while
   *    this loop keeps reading the connector;
   *  - end of input → finalize remaining streams, wait for every
   *    finalize, then `_GLOBAL` / `_LEGACY` states.
   *
   * A failed finalize stops the connector and the loop; streams whose
   * COMPLETE had not arrived are not finalized, and the other in-flight
   * finalizes still run to their end before the first error is
   * rethrown. Whatever happens, the connector is dead and every
   * spill file deleted when this returns or throws.
   */
  def sync(
      cache: graft.cache.SparkCache,
      spark: SparkSession,
      streams: Seq[String] = Seq.empty,
      writeStrategy: WriteStrategy = WriteStrategy.Auto): ReadResult = {
    import scala.collection.mutable
    import spark.implicits._
    val selected = if (streams.isEmpty) catalog.streamNames else streams
    // wire names match case-insensitively; buffers key on canonical names
    // wire names match by NORMALIZED form, not just case: a connector
    // emits "primary-key-with-dot" while the catalog's table name is
    // primary_key_with_dot (the reference's source-test fixture shape)
    val canonical = selected.map(s =>
      graft.names.NameNormalizer.normalize(s) -> s).toMap
    val spills = mutable.Map.empty[String, mutable.ArrayBuffer[java.nio.file.Path]]
    val allSpills = mutable.ArrayBuffer.empty[java.nio.file.Path]
    val buffers = mutable.Map.empty[String, mutable.ArrayBuffer[String]]
    val pending = mutable.Map.empty[String, String]
    val finalized = mutable.Set.empty[String]

    def spill(stream: String): Unit = {
      val buf = buffers(stream)
      val f = java.nio.file.Files.createTempFile(s"graft-batch-$stream", ".jsonl")
      allSpills += f
      java.nio.file.Files.write(f,
        buf.mkString("\n").getBytes("UTF-8"))
      spills.getOrElseUpdate(stream, mutable.ArrayBuffer.empty) += f
      buf.clear()
    }

    val pool = new StreamPool(spark, selected)
    val run = try launch(None) catch { case t: Throwable => pool.await(); throw t }

    // snapshot on the loop thread; the worker owns the snapshot
    def finalizeStream(stream: String): Unit = if (!finalized(stream)) {
      finalized += stream
      val files = spills.remove(stream).fold(Seq.empty[java.nio.file.Path])(_.toSeq)
      val tail = buffers.remove(stream).fold(Seq.empty[String])(_.toSeq)
      val state = pending.remove(stream)
      pool.submit(stream) {
        try {
          val jsonl =
            if (files.isEmpty) spark.createDataset(tail)
            else {
              val spilled = spark.read.textFile(files.map(_.toString): _*)
              if (tail.isEmpty) spilled else spilled.union(spark.createDataset(tail))
            }
          val normalized = graft.operators.Records.normalize(jsonl, catalog(stream).parseSchema)
          cache.writeStream(stream, normalized, catalog, writeStrategy)
          state.foreach(cache.writeState(name, stream, _))
          files.foreach(java.nio.file.Files.deleteIfExists)
        } catch {
          // nothing more will commit: the loop reads `run.stopped`
          case t: Throwable => run.stop(); throw t
        }
      }
    }

    var failure: Throwable = null
    try {
      val it = run.messages
      while (!run.stopped && it.hasNext) {
        val m = it.next()
        m.messageType match {
          case MessageType.RECORD =>
            m.streamName.flatMap(n => canonical.get(graft.names.NameNormalizer.normalize(n))).foreach { s =>
              val buf = buffers.getOrElseUpdate(s, mutable.ArrayBuffer.empty)
              m.dataJson.foreach(buf += _)
              if (buf.size >= chunkSize) spill(s)
            }
          case MessageType.STATE =>
            val key = m.streamName.flatMap(n => canonical.get(graft.names.NameNormalizer.normalize(n)))
              .getOrElse {
                // stream-less state: GLOBAL, or LEGACY when typeless
                val t = m.stateJson.flatMap(AirbyteMessage.stateType)
                if (t.contains("GLOBAL")) "_GLOBAL" else "_LEGACY"
              }
            m.stateJson.foreach(pending(key) = _)
          case MessageType.TRACE if m.streamStatus.contains("COMPLETE") =>
            m.streamName.flatMap(n => canonical.get(graft.names.NameNormalizer.normalize(n)))
              .foreach(finalizeStream)
          case _ => ()
        }
      }
      // a stopped run ended early: the streams still open are partial
      if (!run.stopped) selected.foreach(finalizeStream)
    } catch { case t: Throwable => failure = t }
    finally {
      try run.stop()
      finally
        try pool.await()
        catch { case t: Throwable =>
          if (failure == null) failure = t
          else if (t ne failure) failure.addSuppressed(t)
        }
        finally allSpills.foreach(java.nio.file.Files.deleteIfExists)
    }
    if (failure != null) throw failure
    Seq("_GLOBAL", "_LEGACY").foreach(k =>
      pending.remove(k).foreach(cache.writeState(name, k, _)))
    new ReadResult(cache, selected)
  }

  /**
   * ST4 state replay: serialize the latest checkpointed states to a
   * `--state` artifact (JSON array of state bodies) for the next
   * incremental run (reference `sources/base.py:775-795`,
   * `state_providers.py:79-93`). Caller appends
   * `--state <path>` to the connector command.
   */
  def writeStateArtifact(
      cache: graft.cache.SparkCache,
      streams: Seq[String] = Seq.empty): java.nio.file.Path = {
    val selected = if (streams.isEmpty) catalog.streamNames else streams
    val states = (selected ++ Seq("_GLOBAL", "_LEGACY"))
      .flatMap(s => cache.latestState(name, s))
    val f = java.nio.file.Files.createTempFile("graft-state", ".json")
    java.nio.file.Files.write(f,
      states.mkString("[", ",", "]").getBytes("UTF-8"))
    trackTempFile(f)
  }
}

object SubprocessSource {

  /**
   * Write a connector config to a private temp file, hydrating
   * `secret_reference::NAME` values through the registered secret
   * managers first (reference `_connector_base.py:176`: the executor
   * always hands the connector a HYDRATED config; references never
   * reach the wire). The file is owner-read/write only — it holds
   * resolved secrets — and is `deleteOnExit`-registered so a plaintext
   * hydrated config never outlives the JVM even if the caller forgets
   * to clean up. Caller appends `--config <path>` to the connector
   * command (spec/check/discover/read all take it) and deletes the file
   * after the connector exits ([[SubprocessSource.close]] does this for
   * `withConfig`-built sources).
   */
  def writeHydratedConfig(configJson: String): java.nio.file.Path = {
    import java.nio.file.attribute.PosixFilePermissions
    val hydrated = Secrets.hydrateSecrets(configJson)
    val f = java.nio.file.Files.createTempFile(
      "graft-config", ".json",
      PosixFilePermissions.asFileAttribute(
        PosixFilePermissions.fromString("rw-------")))
    f.toFile.deleteOnExit()
    java.nio.file.Files.write(f, hydrated.getBytes("UTF-8"))
    f
  }

  /** Convenience: a subprocess source whose read command gets
    * `--config <hydrated-file>` appended. */
  def withConfig(
      name: String,
      catalog: ConfiguredCatalog,
      baseCmd: Seq[String],
      configJson: String,
      configChangeCallback: Option[String => Unit] = None): SubprocessSource = {
    val path = writeHydratedConfig(configJson)
    val src = new SubprocessSource(name, catalog,
      baseCmd ++ Seq("--config", path.toString),
      configChangeCallback = configChangeCallback)
    src.trackTempFile(path)
    src
  }
}

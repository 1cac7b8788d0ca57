package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.protocol.ConfiguredCatalog

/** Config surface of the smoke-test source (reference
  * `smoke_test_source/source.py:88-191` connection spec). */
final case class SmokeTestConfig(
    allFastStreams: Boolean = true,
    allSlowStreams: Boolean = false,
    scenarioFilter: Seq[String] = Seq.empty,
    largeBatchRecordCount: Int = SmokeTestScenarios.DefaultLargeBatchCount,
    customScenarios: Seq[SmokeTestScenarios.Scenario] = Seq.empty,
    namespace: Option[String] = None)

/**
 * The smoke-test source (`SourceSmokeTest`,
 * `reference/airbyte/cli/smoke_test_source/source.py:73-414`): a
 * SCRIPTED connector whose catalog and records are the predefined
 * scenario suite, plus runtime-injected custom scenarios.
 *
 * Spark-first shape: the source manufactures the same protocol JSONL a
 * real connector writes to stdout (STARTED/RUNNING traces, RECORD
 * lines, COMPLETE — `source.py:362-414`) and then rides the engine's
 * ONE existing ingest path (`JsonlSource` → `Records.normalizeProtocol`
 * → cache write strategies). Nothing about the sync is special-cased —
 * which is the point: the gauntlet exercises the production pipeline,
 * not a lookalike.
 *
 * One deliberate divergence: the reference stamps every record of a
 * sync with a single `now_ms` (`source.py:373`), leaving same-key
 * "keep latest" ordering to destination insertion order. A distributed
 * engine has no global insertion order, so records carry
 * `emitted_at = base + position` — the scripted position IS the
 * arrival order, making merge semantics deterministic under any
 * partitioning.
 */
final class SmokeTestSource(
    val config: SmokeTestConfig = SmokeTestConfig(),
    /** Deterministic emitted_at base (2024-01-01T00:00:00Z millis). */
    val emittedAtBase: Long = 1704067200000L) extends Source {

  import SmokeTestScenarios.Scenario

  override val name: String = "source-smoke-test"

  /** Scenario selection (`_get_all_scenarios`, source.py:193-268):
    * boolean flags pick the fast/high-volume groups, `scenario_filter`
    * names union in, custom scenarios always append, dedup by name. */
  val scenarios: Seq[Scenario] = {
    val explicit = config.scenarioFilter.toSet
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val out = Seq.newBuilder[Scenario]
    SmokeTestScenarios.predefined.foreach { s =>
      val byFlag = (config.allSlowStreams && s.highVolume) ||
        (config.allFastStreams && !s.highVolume)
      if ((byFlag || explicit(s.name)) && seen.add(s.name)) {
        val sized =
          if (s.name == "large_batch_stream" &&
              config.largeBatchRecordCount != SmokeTestScenarios.DefaultLargeBatchCount)
            s.copy(recordCount = config.largeBatchRecordCount)
          else s
        out += sized
      }
    }
    config.customScenarios.foreach { s =>
      if (s.name.nonEmpty && seen.add(s.name)) out += s
    }
    out.result()
  }

  private def scenarioByName(stream: String): Option[Scenario] =
    scenarios.find(_.name.equalsIgnoreCase(stream))

  /** Discover catalog — built as the WIRE catalog document and parsed
    * through the production `ConfiguredCatalog.fromCatalogJson` path,
    * so stream/column name normalization and PK resolution are the
    * real ones under test. */
  override val catalog: ConfiguredCatalog =
    ConfiguredCatalog.fromCatalogJson(SmokeTestSource.catalogJson(scenarios))

  /** Configuration check (`check`, source.py:298-326). Throws with the
    * reference's message on an invalid configuration. */
  def check(): Unit = {
    if (scenarios.isEmpty)
      throw new graft.errors.GraftInputError(
        "No scenarios available. Check scenario_filter config.",
        guidance = Some("The scenario_filter matched nothing; loosen or " +
          "remove it, or add custom_scenarios."))
  }

  /** Connector spec (`spec`, source.py:81-191). */
  def specJson: String = SmokeTestSource.SpecJson

  // ---- wire-format manufacture -------------------------------------

  private def traceLine(stream: String, status: String): String = {
    val ns = config.namespace.fold("")(n =>
      s""","namespace":${SmokeTestSource.quote(n)}""")
    s"""{"type":"TRACE","trace":{"type":"STREAM_STATUS","emitted_at":$emittedAtBase,""" +
      s""""stream_status":{"stream_descriptor":{"name":${SmokeTestSource.quote(stream)}$ns},"status":"$status"}}}"""
  }

  /** Full protocol message stream for one scenario: STARTED, RUNNING,
    * records (emitted_at = base + 1-based position), COMPLETE.
    *
    * Inline scenarios are scenario-sized driver literals, so their
    * envelopes assemble driver-side into ONE dataset — no extra Spark
    * jobs per stream (an RDD zipWithIndex here costs a count job per
    * scenario, ~2× the jobs of the sync itself). Generator scenarios
    * stay fully distributed: `spark.range`'s id IS the position, so
    * emitted_at derives in-plan. */
  def protocolJsonl(spark: SparkSession, s: Scenario): Dataset[String] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ns = config.namespace.fold("")(n =>
      s""","namespace":${SmokeTestSource.quote(n)}""")
    val prefix = s"""{"type":"RECORD","record":{"stream":${SmokeTestSource.quote(s.name)}$ns,"data":"""
    val header = Seq(traceLine(s.name, "STARTED"), traceLine(s.name, "RUNNING"))
    val footer = Seq(traceLine(s.name, "COMPLETE"))
    if (s.recordGenerator.contains("large_batch")) {
      val records = SmokeTestScenarios.largeBatchFrame(spark, s.recordCount.toLong)
        .select(concat(
          lit(prefix), col("j"),
          lit(""","emitted_at":"""),
          // range ids are 1-based: position == id
          (lit(emittedAtBase) + col("id")).cast("string"),
          lit("}}")).as("line")).as[String]
      spark.createDataset(header).union(records)
        .union(spark.createDataset(footer))
    } else {
      val recordLines = SmokeTestScenarios.recordStrings(s)
        .zipWithIndex.map { case (data, i) =>
          s"""$prefix$data,"emitted_at":${emittedAtBase + i + 1}}}"""
        }
      spark.createDataset(header ++ recordLines ++ footer)
    }
  }

  /** All selected scenarios' protocol lines (connector stdout shape). */
  def protocolJsonl(spark: SparkSession): Dataset[String] =
    scenarios.map(protocolJsonl(spark, _)).reduce(_ union _)

  // ---- Source contract ---------------------------------------------

  /** Per-stream sync rides the production protocol ingest: the stream's
    * protocol lines through `JsonlSource` (→ one-pass
    * `normalizeProtocol`, cache write strategies, the lot). */
  private def delegate(stream: String): JsonlSource = {
    val s = scenarioByName(stream).getOrElse(
      throw new NoSuchElementException(s"Stream not found: $stream"))
    new JsonlSource(name, catalog, sp => protocolJsonl(sp, s))
  }

  override def recordJsonl(spark: SparkSession, stream: String): Dataset[String] =
    delegate(stream).recordJsonl(spark, stream)

  override def read(
      cache: graft.cache.SparkCache,
      spark: SparkSession,
      streams: Seq[String],
      writeStrategy: graft.protocol.WriteStrategy,
      forceFullRefresh: Boolean): ReadResult = {
    val selected = if (streams.isEmpty) catalog.streamNames else streams
    cache.preRegisterStreams(selected)
    // Streams are independent tables, so their syncs run concurrently
    // through the sync pool: each is a tiny scenario write whose wall is
    // dominated by job-commit latency, and Spark's scheduler interleaves
    // concurrent jobs from different threads. Registration is already
    // done in bulk above. Every stream finishes before a failure
    // propagates.
    StreamPool.run(spark, selected) { s =>
      delegate(s).read(cache, spark, Seq(s), writeStrategy, forceFullRefresh)
    }
    new ReadResult(cache, selected)
  }
}

object SmokeTestSource {

  private val mapper = new ObjectMapper()

  private[sources] def quote(s: String): String =
    mapper.writeValueAsString(s)

  /** Wire discover-catalog document for a scenario list. */
  def catalogJson(scenarios: Seq[SmokeTestScenarios.Scenario]): String = {
    val streams = scenarios.map { s =>
      val pk = s.primaryKey.fold("") { paths =>
        val arr = paths.map(_.map(quote).mkString("[", ",", "]"))
          .mkString("[", ",", "]")
        s""","source_defined_primary_key":$arr"""
      }
      s"""{"name":${quote(s.name)},"json_schema":${s.schemaJson},""" +
        s""""supported_sync_modes":["full_refresh"]$pk}"""
    }
    s"""{"streams":${streams.mkString("[", ",", "]")}}"""
  }

  /**
   * Parse the spec-shaped source config (`custom_scenarios`,
   * `large_batch_record_count`, `all_fast_streams`, `all_slow_streams`,
   * `scenario_filter`, `namespace`) with the reference's validation
   * messages (`_validate_custom_scenarios`, source.py:270-296; `check`
   * :304-316). Throws GraftInputError (an IllegalArgumentException)
   * with the failing scenario named in the context on the first problem.
   */
  def configFromJson(json: String): SmokeTestConfig = {
    import scala.jdk.CollectionConverters._
    import scala.collection.immutable.ListMap
    def bad(msg: String, ctx: (String, Any)*): Nothing =
      throw new graft.errors.GraftInputError(msg,
        guidance = Some("Fix the custom_scenarios entry named in the " +
          "context; each scenario needs a name, a json_schema object, " +
          "and optionally a records array of objects."),
        context = ListMap(ctx: _*))
    val root = mapper.readTree(json)
    val rawCustom = root.get("custom_scenarios")
    if (rawCustom != null && !rawCustom.isArray)
      bad("'custom_scenarios' must be an array of objects.",
        "config_key" -> "custom_scenarios")
    val custom = Option(rawCustom).toSeq.flatMap(_.elements().asScala.toSeq)
      .zipWithIndex.map { case (cs, i) =>
        if (!cs.isObject)
          bad(s"Custom scenario at index $i must be an object.",
            "scenario_index" -> i)
        val nm = Option(cs.get("name")).map(_.asText()).filter(_.nonEmpty)
          .getOrElse(bad(s"Custom scenario at index $i is missing 'name'.",
            "scenario_index" -> i))
        val schemaNode = cs.get("json_schema")
        if (schemaNode == null || !schemaNode.isObject)
          bad(s"Custom scenario '$nm' must provide 'json_schema' as an object.",
            "scenario" -> nm)
        val recsNode = cs.get("records")
        if (recsNode != null && !recsNode.isArray)
          bad(s"Custom scenario '$nm' has invalid 'records': expected an array of objects.",
            "scenario" -> nm)
        val recs = Option(recsNode).toSeq.flatMap(_.elements().asScala.toSeq)
          .zipWithIndex.map { case (r, j) =>
            if (!r.isObject)
              bad(s"Custom scenario '$nm' record at index $j must be an object.",
                "scenario" -> nm, "record_index" -> j)
            r.toString
          }
        val pk = Option(cs.get("primary_key")).filter(_.isArray).map { arr =>
          arr.elements().asScala.toSeq.map(path =>
            path.elements().asScala.toSeq.map(_.asText()))
        }
        SmokeTestScenarios.Scenario(
          name = nm,
          description = Option(cs.get("description")).map(_.asText())
            .getOrElse("Custom injected scenario"),
          schemaJson = schemaNode.toString,
          primaryKey = pk,
          records = recs)
      }
    SmokeTestConfig(
      allFastStreams = Option(root.get("all_fast_streams")).forall(_.asBoolean(true)),
      allSlowStreams = Option(root.get("all_slow_streams")).exists(_.asBoolean(false)),
      scenarioFilter = Option(root.get("scenario_filter")).toSeq
        .flatMap(_.elements().asScala).filter(_.isTextual).map(_.asText()),
      largeBatchRecordCount = Option(root.get("large_batch_record_count"))
        .map(_.asInt(SmokeTestScenarios.DefaultLargeBatchCount))
        .getOrElse(SmokeTestScenarios.DefaultLargeBatchCount),
      customScenarios = custom,
      namespace = Option(root.get("namespace")).filter(_.isTextual).map(_.asText()))
  }

  /**
   * Scenario-selection front door (`get_smoke_test_source`,
   * `reference/airbyte/_util/destination_smoke_tests.py:134-230`):
   * "fast" (default) = non-high-volume set; "all" = everything; any
   * other value = comma-separated scenario names only.
   */
  def forScenarios(
      scenarios: String = "fast",
      namespace: Option[String] = None,
      customScenarios: Seq[SmokeTestScenarios.Scenario] = Seq.empty): SmokeTestSource = {
    val keyword = scenarios.trim.toLowerCase(java.util.Locale.ROOT)
    val cfg = keyword match {
      case "all" =>
        SmokeTestConfig(allFastStreams = true, allSlowStreams = true)
      case "fast" =>
        SmokeTestConfig(allFastStreams = true, allSlowStreams = false)
      // NOTE: an empty STRING reaches the filter branch below (selecting
      // nothing predefined — how the reference's preflight isolates its
      // custom scenario, destination_smoke_tests.py:481-486); only an
      // empty LIST normalizes to "fast" in the reference (:163-164)
      case _ =>
        SmokeTestConfig(allFastStreams = false, allSlowStreams = false,
          scenarioFilter = scenarios.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    }
    new SmokeTestSource(cfg.copy(
      namespace = namespace, customScenarios = customScenarios))
  }

  /** Connector spec document (source.py:86-191). */
  val SpecJson: String =
    """{
      |  "documentationUrl": "https://docs.airbyte.com/integrations/sources/smoke-test",
      |  "connectionSpecification": {
      |    "$schema": "http://json-schema.org/draft-07/schema#",
      |    "title": "Smoke Test Source Spec",
      |    "type": "object",
      |    "required": [],
      |    "properties": {
      |      "custom_scenarios": {
      |        "type": "array",
      |        "title": "Custom Test Scenarios",
      |        "description": "Additional test scenarios to inject at runtime. Each scenario defines a stream name, JSON schema, and records.",
      |        "items": {
      |          "type": "object",
      |          "required": ["name", "json_schema"],
      |          "properties": {
      |            "name": {"type": "string"},
      |            "description": {"type": "string"},
      |            "json_schema": {"type": "object"},
      |            "records": {"type": "array", "items": {"type": "object"}},
      |            "primary_key": {"type": ["array", "null"], "items": {"type": "array", "items": {"type": "string"}}}
      |          }
      |        },
      |        "default": []
      |      },
      |      "large_batch_record_count": {
      |        "type": "integer",
      |        "title": "Large Batch Record Count",
      |        "description": "Number of records to generate for the large_batch_stream scenario. Set to 0 to emit no records for this stream.",
      |        "default": 1000
      |      },
      |      "all_fast_streams": {
      |        "type": "boolean",
      |        "title": "All Fast Streams",
      |        "description": "Include all fast (non-high-volume) predefined streams.",
      |        "default": true
      |      },
      |      "all_slow_streams": {
      |        "type": "boolean",
      |        "title": "All Slow Streams",
      |        "description": "Include all slow (high-volume) streams such as large_batch_stream.",
      |        "default": false
      |      },
      |      "scenario_filter": {
      |        "type": "array",
      |        "title": "Scenario Filter",
      |        "description": "Specific scenario names to include. These are unioned with the boolean-driven sets (deduped).",
      |        "items": {"type": "string"},
      |        "default": []
      |      },
      |      "namespace": {
      |        "type": ["string", "null"],
      |        "title": "Namespace",
      |        "description": "Namespace (schema/database) to set on all streams.",
      |        "default": null
      |      }
      |    }
      |  }
      |}""".stripMargin
}

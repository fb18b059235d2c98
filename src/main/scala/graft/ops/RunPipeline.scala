package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.Model._
import graft.sources.PozoSource

/** EP1 — the ingest pipeline (reference `pipeline.py:352-528`, traced in
  * SURVEY §3).
  *
  * The control plane runs on the driver: fetch is driver-orchestrated (2
  * stateful sources — the reference is the same), and the single-record
  * artifacts (raw payloads, normalized/state/report/summary JSONL) are
  * encoded and the state file decoded by [[graft.Model.Json]], in the bytes
  * Spark's JSON encoders would write. Consensus is the one Spark action:
  * `Consensus.merge` over the collected payloads, collected whole (one row
  * per category). Artifacts are written atomically (temp+rename — the
  * reference truncate-writes, `pipeline.py:437`). Side-effect ordering
  * preserved from the reference: raw artifacts → read state → write
  * normalized+state (unconditionally, *before* the decision) →
  * report/summary → notify.
  */
object RunPipeline {

  case class Config(
      requestedSources: Seq[String] = Seq("pozos"),
      timeout: Int = 30,
      retries: Int = 3,
      failFast: Boolean = false,
      mismatchThreshold: Double = 0.25,
      forcePublish: Boolean = false,
      workDir: String,
      runId: String = java.util.UUID.randomUUID().toString,
      now: () => String = () => java.time.Instant.now().toString)

  case class Result(summary: Summary, report: Report, record: NormalizedRecord,
      collected: Seq[SourcePayload])

  /** Validate + dedupe the requested source list (reference
    * `pipeline.py:34-46`): `all`/`pozos` collapse to pozos; unknown → error. */
  def normalizeSources(requested: Seq[String], known: Set[String]): Seq[String] = {
    val mapped = requested.map(_.trim.toLowerCase).map {
      case "all" => "pozos"
      case s => s
    }
    mapped.foreach { s =>
      if (s != "pozos" && !known.contains(s))
        throw new graft.ConfigError(s"Unknown source: $s", Map("source" -> s))
    }
    mapped.distinct
  }

  def run(spark: SparkSession, sources: Seq[PozoSource], cfg: Config,
      log: Observability.LogStream = new Observability.BufferingLogStream): Result = {
    import spark.implicits._
    Observability.setCorrelationId(spark, cfg.runId)
    log.emit(Observability.Event("pipeline_start", cfg.now(), cfg.runId,
      Map("sources" -> cfg.requestedSources.mkString(","))))

    // 1. Collect payloads; per-source failure = warn + continue unless
    //    fail-fast (reference `pipeline.py:102-132`).
    val collected = Observability.span(spark, log, "ingestion_orchestration",
        now = cfg.now) {
      sources.sortBy(_.priority).flatMap { src =>
        try Some(src.fetch())
        catch {
          case e: Exception if !cfg.failFast =>
            System.err.println(s"[pipeline] source ${src.name} failed: ${e.getMessage}")
            log.emit(Observability.Event("source_failed", cfg.now(), cfg.runId,
              Map("source" -> src.name, "error" -> String.valueOf(e.getMessage))))
            None
        }
      }
    }
    Observability.metric(spark, log, "sources_collected", collected.size, now = cfg.now)
    if (collected.isEmpty)
      throw new RuntimeException(
        s"No sources returned data for ${cfg.requestedSources.mkString(",")}")

    // 2-3. Consensus merge + scalars (SURVEY §2.4): the run's one Spark
    //    action. Its rows have a unique categoria, so they sort here.
    val mergeRows = Observability.span(spark, log, "consensus_merge", now = cfg.now) {
      Consensus.merge(spark.createDataset(collected).toDF()).collect()
        .sortBy(_.getAs[String]("categoria"))(SparkStringOrder)
    }
    val resolved = mergeRows.map(r =>
      r.getAs[String]("categoria") -> r.getAs[Long]("valor")).toMap

    val mismatches = mergeRows.toSeq.flatMap { r =>
      val disagreeing = Option(r.getAs[Map[String, scala.collection.Seq[String]]]("disagreeing"))
        .getOrElse(Map.empty).map { case (k, v) => k -> v.toSeq }
      val missing = r.getAs[scala.collection.Seq[String]]("missing_sources").toSeq
      if (disagreeing.nonEmpty || missing.nonEmpty)
        Some(Mismatch(
          categoria = r.getAs[String]("categoria"),
          consensus = Map(r.getAs[Long]("valor").toString ->
            r.getAs[scala.collection.Seq[String]]("winner_sources").toSeq),
          disagreeing = disagreeing,
          max_deviation = if (disagreeing.nonEmpty)
            Some(r.getAs[Double]("max_deviation")) else None,
          missing_sources = missing))
      else None
    }

    val mismatchRatio =
      if (resolved.isEmpty) 0.0
      else mismatches.count(_.disagreeing.nonEmpty).toDouble / resolved.size
    val maxDeviation =
      (0.0 +: mismatches.flatMap(_.max_deviation)).max

    // Confidence scoring (reference `pipeline.py:391-404`).
    val expected = cfg.requestedSources.map {
      case "pozos" => sources.size
      case _ => 1
    }.sum
    val confidence =
      if (collected.size < expected || mismatchRatio > 0) "degraded"
      else if (collected.size == 1) "single_source"
      else "full"

    // 4. Record build (reference `pipeline.py:406-417`): primary = first
    //    collected (lowest priority).
    val primary = collected.head
    val prov = Provenance(PozosProvenance(
      SourceDesc.of(collected.head), collected.tail.map(SourceDesc.of)))
    val record = NormalizedRecord(
      sorteo = primary.sorteo, fecha = primary.fecha,
      fuente = Some(primary.fuente), confidence = confidence,
      premios = Seq.empty, pozos_proximo = resolved, provenance = prov)

    // 5. Raw per-source artifacts (reference `pipeline.py:419-429`):
    //    single-source keeps the requested name; multi-source uses munged
    //    netloc.
    val rawDir = Paths.get(cfg.workDir, "raw")
    Files.createDirectories(rawDir)
    collected.foreach { p =>
      val fname =
        if (cfg.requestedSources.size == 1 && sources.size == 1)
          cfg.requestedSources.head
        else Option(new java.net.URI(p.fuente).getHost)
          .map(_.replace(".", "_")).getOrElse("source")
      writeAtomic(rawDir.resolve(s"$fname.json"), Json.line(p) + "\n")
    }

    // 6. Previous state: JSONL read tolerating corrupt lines
    //    (reference `pipeline.py:66-79`).
    val statePath = Paths.get(cfg.workDir, "state", "last_run.jsonl")
    val previous = loadState(statePath.toString)

    // 7. Change detection (reference `pipeline.py:257-285`).
    val unchanged = previous.exists { prev =>
      prev.sorteo == record.sorteo && prev.fecha == record.fecha && {
        val shaEq = (for {
          a <- prev.provenance.pozos.primary.sha256
          b <- record.provenance.pozos.primary.sha256
        } yield a == b).getOrElse(false)
        shaEq || prev.pozos_proximo == record.pozos_proximo
      }
    }

    // 8. Normalized + state written unconditionally, BEFORE the decision
    //    (reference `pipeline.py:436-437`).
    val recordJson = Json.line(record) + "\n"
    writeAtomic(Paths.get(cfg.workDir, "normalized.jsonl"), recordJson)
    writeAtomic(statePath, recordJson)

    // 9. Decision (reference `pipeline.py:439-459`).
    val (status, publishFlag, reason) = StatePipeline.decide(
      unchanged, mismatchRatio, maxDeviation, cfg.mismatchThreshold, cfg.forcePublish)

    val generatedAt = cfg.now()
    val decision = Decision(status, confidence, resolved.size.toLong,
      mismatches.count(_.disagreeing.nonEmpty).toLong, reason)
    val report = Report(
      RunInfo(cfg.runId, generatedAt, cfg.requestedSources, cfg.timeout,
        cfg.retries, cfg.failFast),
      LastDraw(record.sorteo, record.fecha), decision, mismatches, ApiVersion)
    val summary = Summary(cfg.runId, generatedAt, decision,
      prizes_changed = !unchanged, publish = publishFlag,
      publish_reason = reason, api_version = ApiVersion)

    // 10. Report + summary sinks.
    writeAtomic(Paths.get(cfg.workDir, "comparison_report.json"), Json.line(report) + "\n")
    writeAtomic(Paths.get(cfg.workDir, "run_summary.json"), Json.line(summary) + "\n")

    log.emit(Observability.Event("pipeline_end", cfg.now(), cfg.runId,
      Map("decision" -> status, "publish" -> publishFlag.toString,
        "confidence" -> confidence)))
    Observability.metric(spark, log, "mismatched_categories",
      mismatches.count(_.disagreeing.nonEmpty), now = cfg.now)
    Result(summary, report, record, collected)
  }

  /** JSONL state read; blank, corrupt and wrongly typed lines are skipped
    * (reference `pipeline.py:66-79`), as Spark's PERMISSIVE scan with the
    * record schema skips them (see [[graft.Model.Json]] for the edges).
    * Invalid UTF-8 decodes to U+FFFD, where Spark's scan drops the line. */
  def loadState(path: String): Seq[NormalizedRecord] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Seq.empty
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .lines().iterator().asScala.flatMap(Json.record).toSeq
  }

  private def writeAtomic(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

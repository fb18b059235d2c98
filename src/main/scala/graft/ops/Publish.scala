package graft.ops

import graft.PublishError
import graft.Model._
import graft.sources.SheetBackend

/** Publish path (reference `polla_app/publish.py`).
  *
  * Runs on the driver: the published record is one line of
  * `normalized.jsonl`, read with [[graft.Model.Json]], and its sheet rows
  * (`publish.py:69-116`) are rendered here as cells — the dry-run needs no
  * SparkSession. The sheet itself talks to a pluggable [[SheetsClient]] —
  * the same split the reference's gspread client implies — or, from the
  * CLI, to the DSv2 `format("sheet")` connector fed these same rows.
  * Dry-run = diff mode: the proposed sheet against the current one as a
  * rendered unified-ish text diff (`publish.py:249-266`).
  */
object Publish {

  private def cell(v: Option[Any]): String = v.fold("")(_.toString)

  /** Sheet rows of one record, as cells (None → ""), ordered by categoria
    * (`publish.py:69-100`): pozos-only 4-col rows (sorteo, fecha,
    * categoria, pozo_clp), or, when premios are present, 8-col rows (sorteo,
    * fecha, fuente, categoria, premio_clp, ganadores, then pozos_proximo
    * and provenance as JSON). */
  def rows(r: NormalizedRecord): Seq[Seq[String]] =
    if (r.premios.isEmpty)
      r.pozos_proximo.toSeq.sortBy(_._1)(SparkStringOrder).map { case (categoria, pozo) =>
        Seq(cell(r.sorteo), cell(r.fecha), categoria, pozo.toString)
      }
    else {
      val pozos = Json.line(r.pozos_proximo)
      val provenance = Json.line(r.provenance)
      r.premios.sortBy(_.categoria)(SparkStringOrder).map { p =>
        Seq(cell(r.sorteo), cell(r.fecha), cell(r.fuente), p.categoria,
          p.premio_clp.toString, p.ganadores.toString, pozos, provenance)
      }
    }

  /** Discrepancy rows of one report (`publish.py:103-116`): sorteo,
    * categoria, consensus/disagreeing as JSON, missing as ", "-joined. */
  def mismatchRows(report: Report): Seq[Seq[String]] =
    report.mismatches.sortBy(_.categoria)(SparkStringOrder).map { m =>
      Seq(cell(report.last_draw.sorteo), m.categoria, Json.line(m.consensus),
        Json.line(m.disagreeing), m.missing_sources.mkString(", "))
    }

  /** Header by row width (`publish.py:136-150`). */
  def headerFor(width: Int): Seq[String] =
    if (width == 4) Seq("sorteo", "fecha", "categoria", "pozo_clp")
    else Seq("sorteo", "fecha", "fuente", "categoria", "premio_clp",
      "ganadores", "pozos_proximo", "provenance")

  /** Header of rendered rows; no rows is a pozos-only record with no
    * categories, so 4-col. */
  def headerOf(rows: Seq[Seq[String]]): Seq[String] =
    headerFor(rows.headOption.fold(4)(_.length))

  val mismatchHeader: Seq[String] =
    Seq("sorteo", "categoria", "consensus", "disagreeing", "missing_sources")

  /** Publish-allowed gate (`publish.py:119-133`): report status startswith
    * "publish"; summary `publish` flag overrides when present. */
  def publishAllowed(reportStatus: String, summaryPublish: Option[Boolean]): Boolean =
    summaryPublish.getOrElse(reportStatus.toLowerCase.startsWith("publish"))

  /** The record to publish: the first line of `<workDir>/normalized.jsonl`
    * (the run writes exactly one). None readable → PublishError. */
  def publishedRecord(workDir: String): NormalizedRecord = {
    val records = RunPipeline.loadState(s"$workDir/normalized.jsonl")
    if (records.isEmpty) throw new PublishError("no normalized records")
    if (records.length > 1)
      System.err.println(s"[publish] ${records.length} records; using first")
    records.head
  }

  /** Dry-run diff (`publish.py:249-266`): current sheet vs header+rows as
    * comma-joined lines, unified-diff-flavored rendering. */
  def dryRunDiff(current: Seq[Seq[String]], rows: Seq[Seq[String]]): String = {
    val proposedLines = (headerOf(rows) +: rows).map(_.mkString(", "))
    val currentLines = current.map(_.mkString(", "))
    if (currentLines == proposedLines) "(No changes detected against the current sheet)"
    else {
      val removed = currentLines.diff(proposedLines).map("- " + _)
      val added = proposedLines.diff(currentLines).map("+ " + _)
      (Seq("--- sheet:current", "+++ proposed_update") ++ removed ++ added).mkString("\n")
    }
  }

  /** `publish --dry-run`: the published record's rows diffed against the
    * canonical worksheet under `sheetDir`. Reads two small files; no Spark. */
  def dryRun(workDir: String, sheetDir: String): String =
    dryRunDiff(SheetBackend.readRows(sheetDir, "canonical"), rows(publishedRecord(workDir)))

  /** Service-account credential resolution (`publish.py:24-46`): a
    * `service_account.json` in the working directory wins (developer
    * override — and if it exists but is empty, that's an error, not a
    * fallthrough); otherwise the first non-empty of the env triple
    * GOOGLE_SERVICE_ACCOUNT_JSON > GOOGLE_CREDENTIALS > CREDENTIALS.
    * Nothing found → ConfigError; payload that isn't a JSON object →
    * ConfigError. Returns the raw JSON payload — the transport client
    * (stubbed in this offline build) consumes it verbatim. */
  def resolveCredentials(cwd: java.nio.file.Path = java.nio.file.Paths.get("."),
      env: Map[String, String] = sys.env): String = {
    val file = cwd.resolve("service_account.json")
    val raw =
      if (java.nio.file.Files.exists(file)) Some(java.nio.file.Files.readString(file))
      else Seq("GOOGLE_SERVICE_ACCOUNT_JSON", "GOOGLE_CREDENTIALS", "CREDENTIALS")
        .flatMap(env.get).find(_.nonEmpty)
    val payload = raw.filter(_.nonEmpty).getOrElse(
      throw new graft.ConfigError("GOOGLE_SERVICE_ACCOUNT_JSON environment variable is required"))
    val ok = try {
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(payload).isObject
    } catch { case _: Exception => false }
    if (!ok) throw new graft.ConfigError("Invalid GOOGLE_SERVICE_ACCOUNT_JSON payload")
    payload
  }

  /** Spreadsheet-id resolution (`publish.py:282-284`):
    * GOOGLE_SPREADSHEET_ID, falling back to GOOGLE_SHEETS_SPREADSHEET_ID. */
  def resolveSpreadsheetId(env: Map[String, String] = sys.env): String =
    Seq("GOOGLE_SPREADSHEET_ID", "GOOGLE_SHEETS_SPREADSHEET_ID")
      .flatMap(env.get).find(_.nonEmpty).getOrElse(
        throw new graft.ConfigError("GOOGLE_SPREADSHEET_ID environment variable is required"))

  /** Minimal Sheets client surface (clear+update = truncate+overwrite,
    * `publish.py:161-171`); production impl would wrap the Sheets API,
    * tests use [[InMemorySheets]] like the reference's fake gspread. */
  trait SheetsClient {
    def getAllValues(worksheet: String): Seq[Seq[String]]
    def clearAndUpdate(worksheet: String, values: Seq[Seq[String]]): Int
  }

  final class InMemorySheets extends SheetsClient {
    val sheets = scala.collection.mutable.Map[String, Seq[Seq[String]]]()
    def getAllValues(worksheet: String): Seq[Seq[String]] =
      sheets.getOrElse(worksheet, Seq.empty)
    def clearAndUpdate(worksheet: String, values: Seq[Seq[String]]): Int = {
      sheets(worksheet) = values; values.length
    }
  }

  /** Canonical worksheet write (`publish.py:161-171`): header + rows;
    * empty rows → no write, returns 0. */
  def updateCanonical(client: SheetsClient, worksheet: String, rows: Seq[Seq[String]]): Int =
    if (rows.isEmpty) 0
    else {
      client.clearAndUpdate(worksheet, headerOf(rows) +: rows)
      rows.length
    }

  /** Discrepancy sheet write (`publish.py:174-193`): placeholder row when
    * empty and quarantine allowed; no write when empty otherwise. */
  def updateDiscrepancy(client: SheetsClient, worksheet: String,
      rows: Seq[Seq[String]], lastDrawSorteo: Option[Long], allowQuarantine: Boolean): Unit =
    if (rows.nonEmpty || allowQuarantine) {
      val body = if (rows.nonEmpty) rows
        else Seq(Seq(lastDrawSorteo.map(_.toString).getOrElse(""), "", "", "", ""))
      client.clearAndUpdate(worksheet, mismatchHeader +: body)
    }
}

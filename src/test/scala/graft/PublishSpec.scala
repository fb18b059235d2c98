package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.Model._
import graft.ops.{Notifiers, Publish}
import graft.sources.SheetBackend

/** Publish path semantics (reference `tests/test_publish.py:38-240`,
  * `tests/test_phase4.py:12-44`). Publish runs on the driver, so no
  * SparkSession is started here. */
class PublishSpec extends AnyFunSuite {

  private val desc = SourceDesc(Some("https://a.cl/"), Some("2026-08-12T00:00:00Z"),
    Some("sha"), Some("UA"), estimado = true, Some(5417L), Some("2026-04-26"))
  private val prov = Provenance(PozosProvenance(desc, Seq.empty))

  private def record(premios: Seq[Premio] = Seq.empty) = NormalizedRecord(
    Some(5417L), Some("2026-04-26"), Some("https://a.cl/"), "full",
    premios, Map("Loto" -> 1000L, "Desquite" -> 510L), prov)

  /** Cells of one rendered row by column name. */
  private def byName(row: Seq[String]): Map[String, String] =
    Publish.headerFor(row.length).zip(row).toMap

  test("credential chain: file > env triple, in order; empty file errors") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cred")
    val env = Map(
      "GOOGLE_SERVICE_ACCOUNT_JSON" -> """{"client_email":"a@x"}""",
      "GOOGLE_CREDENTIALS" -> """{"client_email":"b@x"}""",
      "CREDENTIALS" -> """{"client_email":"c@x"}""")
    // no file: first env var wins
    assert(Publish.resolveCredentials(dir, env).contains("a@x"))
    // earlier vars empty: fall through in order
    assert(Publish.resolveCredentials(dir,
      env + ("GOOGLE_SERVICE_ACCOUNT_JSON" -> "")).contains("b@x"))
    assert(Publish.resolveCredentials(dir, Map("CREDENTIALS" -> env("CREDENTIALS")))
      .contains("c@x"))
    // file present: wins over all env
    val f = dir.resolve("service_account.json")
    java.nio.file.Files.writeString(f, """{"client_email":"file@x"}""")
    assert(Publish.resolveCredentials(dir, env).contains("file@x"))
    // file present but empty: error, NOT env fallthrough (publish.py:31-38)
    java.nio.file.Files.writeString(f, "")
    val e1 = intercept[ConfigError](Publish.resolveCredentials(dir, env))
    assert(e1.getMessage.contains("GOOGLE_SERVICE_ACCOUNT_JSON"))
    // nothing anywhere
    java.nio.file.Files.delete(f)
    intercept[ConfigError](Publish.resolveCredentials(dir, Map.empty))
    // invalid JSON payload
    val e2 = intercept[ConfigError](
      Publish.resolveCredentials(dir, Map("CREDENTIALS" -> "not json")))
    assert(e2.getMessage.contains("Invalid"))
  }

  test("spreadsheet id: primary env, legacy fallback, missing errors") {
    assert(Publish.resolveSpreadsheetId(Map("GOOGLE_SPREADSHEET_ID" -> "id1",
      "GOOGLE_SHEETS_SPREADSHEET_ID" -> "id2")) == "id1")
    assert(Publish.resolveSpreadsheetId(
      Map("GOOGLE_SHEETS_SPREADSHEET_ID" -> "id2")) == "id2")
    intercept[ConfigError](Publish.resolveSpreadsheetId(Map.empty))
  }

  test("pozos-only mode → 4-col rows ordered by categoria") {
    val rows = Publish.rows(record())
    assert(rows == Seq(
      Seq("5417", "2026-04-26", "Desquite", "510"),
      Seq("5417", "2026-04-26", "Loto", "1000")))
    assert(Publish.headerFor(4) == Seq("sorteo", "fecha", "categoria", "pozo_clp"))
  }

  test("premios mode → 8-col rows with serialized pozos/provenance") {
    val r = record(Seq(Premio("1 acierto", 100L, 2L), Premio("6 aciertos", 900L, 0L)))
    val rows = Publish.rows(r)
    assert(rows.length == 2)
    val first = byName(rows.head)
    assert(first("categoria") == "1 acierto")
    assert(first("premio_clp") == "100")
    assert(first("pozos_proximo").contains("\"Loto\":1000"))
    assert(first("provenance").contains("https://a.cl/"))
    assert(Publish.headerFor(8).head == "sorteo")
  }

  test("mismatch rows explode with JSON cells and joined missing list") {
    val rep = Report(
      RunInfo("r", "t", Seq("pozos"), 30, 3, fail_fast = false),
      LastDraw(Some(5198L), None),
      Decision("quarantine", "degraded", 2, 1, "why"),
      Seq(Mismatch("Loto", Map("1000" -> Seq("a")), Map("1200" -> Seq("c")),
        Some(0.2), Seq("b", "d"))),
      ApiVersion)
    val rows = Publish.mismatchRows(rep)
    assert(rows.length == 1)
    val cells = Publish.mismatchHeader.zip(rows.head).toMap
    assert(cells("sorteo") == "5198")
    assert(cells("consensus").contains("\"1000\":[\"a\"]"))
    assert(cells("missing_sources") == "b, d")
  }

  test("publish gate: status prefix + summary override") {
    assert(Publish.publishAllowed("publish", None))
    assert(Publish.publishAllowed("publish_forced", None))
    assert(!Publish.publishAllowed("quarantine", None))
    assert(!Publish.publishAllowed("skip", None))
    assert(Publish.publishAllowed("quarantine", Some(true)))
    assert(!Publish.publishAllowed("publish", Some(false)))
  }

  test("canonical sheet write: header + rows; empty → no write") {
    val c = new Publish.InMemorySheets
    val n = Publish.updateCanonical(c, "canon", Publish.rows(record()))
    assert(n == 2)
    assert(c.sheets("canon").head == Seq("sorteo", "fecha", "categoria", "pozo_clp"))
    assert(c.sheets("canon").length == 3)
  }

  test("discrepancy sheet: placeholder row when empty + quarantine allowed") {
    val c = new Publish.InMemorySheets
    val empty = Publish.mismatchRows(Report(
      RunInfo("r", "t", Seq("pozos"), 30, 3, fail_fast = false),
      LastDraw(Some(5198L), None), Decision("skip", "full", 2, 0, "-"),
      Seq.empty, ApiVersion))
    Publish.updateDiscrepancy(c, "disc", empty, Some(5198L), allowQuarantine = true)
    assert(c.sheets("disc") == Seq(Publish.mismatchHeader,
      Seq("5198", "", "", "", "")))
    // not allowed + empty → untouched
    val c2 = new Publish.InMemorySheets
    Publish.updateDiscrepancy(c2, "disc", empty, Some(5198L), allowQuarantine = false)
    assert(c2.sheets.isEmpty)
  }

  test("dry-run diff: no-change message and +/- rendering") {
    val rows = Publish.rows(record())
    val header = Seq("sorteo", "fecha", "categoria", "pozo_clp")
    val current = header +: Seq(
      Seq("5417", "2026-04-26", "Desquite", "510"),
      Seq("5417", "2026-04-26", "Loto", "1000"))
    assert(Publish.dryRunDiff(current, rows) ==
      "(No changes detected against the current sheet)")
    val stale = header +: Seq(Seq("5417", "2026-04-26", "Loto", "999"))
    val diff = Publish.dryRunDiff(stale, rows)
    assert(diff.contains("- 5417, 2026-04-26, Loto, 999"))
    assert(diff.contains("+ 5417, 2026-04-26, Loto, 1000"))
    assert(diff.contains("+ 5417, 2026-04-26, Desquite, 510"))
  }

  /** A work dir holding `normalized.jsonl` with these records, and its
    * sheets dir holding the given canonical worksheet, if any. */
  private def workDir(records: Seq[NormalizedRecord],
      sheet: Option[Seq[Seq[String]]]): (String, String) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dryrun")
    java.nio.file.Files.writeString(dir.resolve("normalized.jsonl"),
      records.map(Json.line(_) + "\n").mkString)
    val sheetDir = dir.resolve("sheets").toString
    sheet.foreach(s => SheetBackend.clearAndUpdate(sheetDir, "canonical", s.head, s.tail))
    (dir.toString, sheetDir)
  }

  test("dry-run: 4-col rows diffed against the sheet; identical sheet → no changes") {
    val header = Seq("sorteo", "fecha", "categoria", "pozo_clp")
    val (same, sameSheet) = workDir(Seq(record()), Some(Seq(header,
      Seq("5417", "2026-04-26", "Desquite", "510"),
      Seq("5417", "2026-04-26", "Loto", "1000"))))
    assert(Publish.dryRun(same, sameSheet) ==
      "(No changes detected against the current sheet)")
    val (stale, staleSheet) = workDir(Seq(record()), Some(Seq(header,
      Seq("5417", "2026-04-26", "Loto", "999"))))
    assert(Publish.dryRun(stale, staleSheet) == Seq("--- sheet:current",
      "+++ proposed_update", "- 5417, 2026-04-26, Loto, 999",
      "+ 5417, 2026-04-26, Desquite, 510", "+ 5417, 2026-04-26, Loto, 1000").mkString("\n"))
  }

  test("dry-run: premios record renders 8-col rows against an empty sheet") {
    val r = record(Seq(Premio("6 aciertos", 900L, 0L), Premio("1 acierto", 100L, 2L)))
    val (dir, sheetDir) = workDir(Seq(r), None)
    val lines = Publish.dryRun(dir, sheetDir).split("\n").toSeq
    assert(lines.take(3) == Seq("--- sheet:current", "+++ proposed_update",
      "+ " + Publish.headerFor(8).mkString(", ")))
    val added = lines.drop(3).map(_.stripPrefix("+ ").split(", ", 7).toSeq)
    assert(added.map(_.take(6)) == Seq(
      Seq("5417", "2026-04-26", "https://a.cl/", "1 acierto", "100", "2"),
      Seq("5417", "2026-04-26", "https://a.cl/", "6 aciertos", "900", "0")))
    assert(added.forall(_(6) ==
      Json.line(r.pozos_proximo) + ", " + Json.line(r.provenance)))
  }

  test("dry-run: missing normalized.jsonl → PublishError; several records → first, warned") {
    val empty = java.nio.file.Files.createTempDirectory("graft-dryrun").toString
    intercept[PublishError](Publish.dryRun(empty, s"$empty/sheets"))
    val other = record().copy(sorteo = Some(9999L))
    val (dir, sheetDir) = workDir(Seq(record(), other), None)
    val err = new java.io.ByteArrayOutputStream()
    val oldErr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val diff = try Publish.dryRun(dir, sheetDir) finally System.setErr(oldErr)
    assert(err.toString("UTF-8").contains("[publish] 2 records; using first"))
    assert(diff.contains("+ 5417, 2026-04-26, Loto, 1000") && !diff.contains("9999"))
  }

  test("slack: skip unchanged, summary text, quarantine blocks capped at 15") {
    val d = Decision("skip", "full", 9, 0, "unchanged")
    val s = Summary("rid", "t", d, prizes_changed = false, publish = false,
      "unchanged", ApiVersion)
    assert(!Notifiers.shouldNotify(s))
    val q = s.copy(decision = d.copy(status = "quarantine", mismatched_categories = 3),
      publish_reason = "max_deviation")
    assert(Notifiers.shouldNotify(q))
    assert(Notifiers.summaryText(q, 0).contains("DISCREPANCY ALERT"))
    assert(Notifiers.summaryText(q, 0).contains("`QUARANTINE`"))

    val manyMismatches = (1 to 40).map(i =>
      Mismatch(s"cat$i", Map("10" -> Seq("a")), Map("12" -> Seq("b")), Some(0.2), Seq()))
    val blocks = Notifiers.quarantineBlocks(q, manyMismatches)
    assert(blocks.head._2.contains("Quarantine Alert"))
    val detail = blocks.last._2
    assert(detail.linesIterator.count(_.startsWith("•")) == 15)
  }
}

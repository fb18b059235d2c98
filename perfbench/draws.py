"""Seeded draws of the two jackpot source pages, with expected CLI outcomes.

Each draw renders the openloto text page and the polla DOM page in the
formats of the committed source fixtures, and says what `graft.Main run`
must decide for it and what `graft.Main publish --dry-run` must print.
A draw is one of four kinds:

  agree      both pages carry the same new amounts        -> publish, full
  unchanged  byte-identical repeat of the previous draw   -> skip
  disagree   polla's Loto Clasico is 30-100 % off          -> quarantine, degraded
  degraded   one page is missing                          -> publish, degraded

The caller names the kinds and their order; the seed only picks amounts,
dates and which page a `degraded` draw misses. The timed benchmark cycle is
CYCLE: cron runs the pipeline once a day (BASELINE.md, "Scheduled
cadence"), so it sees new amounts on a draw day and an unchanged repeat on
the days between. `disagree` and `degraded` are fault cases with no known
frequency; FAULTS are replayed by the tests, not timed.

The expectations follow the pipeline's documented rules: categories whose
name starts with "total" never vote; a tie between sources goes to the
first-registered source (openloto); the primary record is the first
collected source, so its sorteo/fecha are polla's only when openloto is
missing. The dry-run diff is taken against the sheet the set-up writes,
the rows of the draw published before the run began.
"""
import os
import random

LOTO = "Loto Clásico"
SHARED = [LOTO, "Recargado", "Revancha", "Desquite"]
OPENLOTO_ONLY = ["Jubilazo $1.000.000"]
ABSENT_AS_ZERO = ["Jubilazo $500.000", "Jubilazo 50 años $1.000.000",
                  "Jubilazo 50 años $500.000"]
POLLA_LOGO = {LOTO: "new_loto_logo.png", "Recargado": "recargado_logo.png",
              "Revancha": "revancha_logo.png", "Desquite": "desquite_logo.png"}
MONTHS = ["enero", "febrero", "marzo", "abril", "mayo", "junio", "julio",
          "agosto", "septiembre", "octubre", "noviembre", "diciembre"]
CYCLE = ["agree", "unchanged"]
FAULTS = ["disagree", "degraded"]
HEADER = "sorteo, fecha, categoria, pozo_clp"


def millones(m):
    """Amount in millions as the pages print it: 4300 -> '4.300'."""
    return f"{m:,}".replace(",", ".")


def openloto_page(amounts):
    rows = [f"<p>Loto Cl&aacute;sico estimado: ${millones(amounts[LOTO])} MILLONES</p>"]
    rows += [f"<p>{c}: ${millones(amounts[c])} MILLONES</p>"
             for c in SHARED[1:] + OPENLOTO_ONLY]
    rows.append(f"<p>Total estimado: ${millones(sum(amounts.values()))} MILLONES</p>")
    return ("<html><head><title>Pozo del Loto</title><style>p{margin:0}</style>"
            "</head><body>\n<h1>Pozo estimado del Loto</h1>\n"
            + "\n".join(rows) + "\n</body></html>\n")


def polla_page(amounts, sorteo, day, month, year):
    items = "".join(
        f'    <li class="sub-game">\n'
        f'      <span class="img-wrap"><img src="/static/assets/{POLLA_LOGO[c]}"/></span>\n'
        f'      <span class="prize">${millones(amounts[c])}</span>\n'
        f'      <span>MILLONES</span>\n    </li>\n' for c in SHARED)
    total = millones(sum(amounts.values()))
    return f"""<!DOCTYPE html>
<html>
<head><title>Polla Chilena de Beneficencia</title>
<script>window.__APP__ = {{hydrated: true}};</script>
<style>.prize {{ font-weight: bold; }}</style>
</head>
<body>
<div class="jackpot-banner">
  <ul class="jackpot-list">
    <li class="total-row">
      <span>POZO TOTAL ESTIMADO A REPARTIR ENTRE TODAS LAS CATEGOR&Iacute;AS</span>
      <span class="prize">${total}</span>
      <span>MILLONES</span>
    </li>
{items}  </ul>
  <button class="detail-toggle">VER DETALLE POR CATEGOR&Iacute;A</button>
  <div class="draw-info">Fecha Pr&oacute;ximo Sorteo: {day} de {MONTHS[month - 1]} de {year} Sorteo N&deg; {sorteo}</div>
</div>
</body>
</html>
"""


def _amounts(rng):
    a = {LOTO: rng.randrange(500, 6000)}
    for c in SHARED[1:] + OPENLOTO_ONLY:
        a[c] = rng.randrange(50, 1500)
    return a


def rows(record):
    """Dry-run lines of a normalized record: header, then one line per
    category in code-point order."""
    s = "" if record["sorteo"] is None else str(record["sorteo"])
    f = record["fecha"] or ""
    return [HEADER] + [f"{s}, {f}, {c}, {v}" for c, v in sorted(record["pozos"].items())]


def dry_run_diff(sheet, proposed):
    if sheet == proposed:
        return "(No changes detected against the current sheet)"
    removed = [x for x in sheet if x not in proposed]
    added = [x for x in proposed if x not in sheet]
    return "\n".join(["--- sheet:current", "+++ proposed_update"]
                     + ["- " + x for x in removed] + ["+ " + x for x in added])


def draws(seed, kinds):
    """Draws of the given kinds, in order, with the sheet rows the set-up
    writes. An `unchanged` draw repeats the one before it, so it cannot
    come first.

    Returns (sheet_lines, [draw]); each draw is a dict with `kind`, `pages`
    ({source: html}; a missing source has no entry) and the expected
    `decision`, `confidence`, `categories`, `pozos` (the `pozos_proximo` map
    in CLP), `sorteo`, `fecha` and `diff`."""
    if kinds and kinds[0] == "unchanged":
        raise ValueError("an unchanged draw must follow another draw")
    rng = random.Random(f"pipeline-{seed}")
    # calendar of the next draw: sorteo number, day, month, year
    cal = [5000 + rng.randrange(1000), 1 + rng.randrange(28), 1 + rng.randrange(12), 2026]
    sheet = rows({"sorteo": None, "fecha": None,
                  "pozos": _record_pozos(_amounts(rng), None)})
    out = []
    for kind in kinds:
        if kind == "unchanged":
            d = dict(out[-1], kind=kind, decision="skip")
        else:
            d = _draw(kind, rng, cal)
            d["diff"] = dry_run_diff(sheet, rows(d))
        out.append(d)
    return sheet, out


def _draw(kind, rng, cal):
    """A new draw of one kind; advances the calendar `cal` in place."""
    cal[0] += 1
    cal[1:] = _next_date(*cal[1:], rng)
    sorteo, day, month, year = cal
    a = _amounts(rng)
    polla = dict(a)
    missing = None
    if kind == "disagree":
        polla[LOTO] = int(a[LOTO] * (1.3 + 0.7 * rng.random()))
    if kind == "degraded":
        missing = rng.choice(["openloto", "polla"])
    pages = {}
    if missing != "openloto":
        pages["openloto"] = openloto_page(a)
    if missing != "polla":
        pages["polla"] = polla_page(polla, sorteo, day, month, year)
    fecha = f"{year:04d}-{month:02d}-{day:02d}"
    primary_polla = missing == "openloto"
    return {
        "kind": kind, "pages": pages,
        "decision": "quarantine" if kind == "disagree" else "publish",
        "confidence": "full" if kind == "agree" else "degraded",
        "categories": 4 if primary_polla else 8,
        "pozos": _record_pozos(a, missing),
        "sorteo": sorteo if primary_polla else None,
        "fecha": fecha if primary_polla else None,
    }


def _record_pozos(a, missing):
    """Resolved `pozos_proximo` in CLP. With openloto present it wins every
    category (it votes on all eight and wins ties); otherwise polla's four
    sub-games."""
    if missing == "openloto":
        return {c: a[c] * 1_000_000 for c in SHARED}
    pozos = {c: a[c] * 1_000_000 for c in SHARED + OPENLOTO_ONLY}
    pozos.update({c: 0 for c in ABSENT_AS_ZERO})
    return pozos


def _next_date(day, month, year, rng):
    day += 3 + rng.randrange(2)
    if day > 28:
        day -= 28
        month += 1
        if month > 12:
            month, year = 1, year + 1
    return day, month, year


def write_pages(draw, fixture_dir):
    """Writes a draw's pages in the fixture layout `<dir>/<source>/page.html`,
    removing any page the draw does not have."""
    for src in ("openloto", "polla"):
        path = os.path.join(fixture_dir, src, "page.html")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if src in draw["pages"]:
            with open(path, "w", encoding="utf-8") as f:
                f.write(draw["pages"][src])
        elif os.path.exists(path):
            os.remove(path)

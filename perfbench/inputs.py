"""Input generators for the benchmark.

Two kinds of input, both made here and never by the program under test:

- **Registry tables** (``llm_ops``): the ``part``, ``events`` and
  ``documents`` tables its queries read, with the column types and value
  distributions of the synthetic test data in TESTDATA.md, at scale
  factor ``SF``.  They come from the fixed ``TABLE_SEED``, so the expected
  output hashes in ``expected.json`` hold for every run; the run's
  ``--seed`` only orders the operations.  ``documents`` is written as
  one parquet file per core (the layout ``bench.py`` builds for
  explode-heavy tables), the others as one file.
- **Reference-day sources** (``refday``): the OEWS HTML page and the
  O*NET Skills workbook, generated from the run's ``--seed``.  The SOC
  codes are built the way ``tests/test_reference_day.py`` builds them, so
  the reference's derived counts hold (736 / 62,580 / 774 / 53,760);
  titles, wages, dirty-cell grammar, skill scores and row order vary with
  the seed.
"""

from __future__ import annotations

import datetime as dt
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20261017
SF = 0.01
TABLES = ("part", "events", "documents")
# Tables whose queries explode rows get one file per core regardless of
# size; every other table does so only from 50,000 rows (bench.py's rule).
EXPLODE_HEAVY = {"documents"}

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _ts(rng, n, start, days):
    """``n`` naive microsecond timestamps in ``[start, start + days)``."""
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def registry_tables(sf: float = SF, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """The tables the ``llm_ops`` queries read, at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n_part, n_ev, n_doc = int(200_000 * sf), int(1_000_000 * sf), int(50_000 * sf)
    i32, i64 = pa.int32(), pa.int64()

    def pick(choices, n):
        return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]

    colors = ["red", "blue", "green", "small", "hot", "cold", "big", "dark"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
    out = {"part": pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{colors[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "STANDARD", "PROMO"],
                       n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })}
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.sort(_ts(rng, n_ev, "2024-01-01", 30)), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), i64),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.asarray(["en", "zh", "es", "de", "fr"], dtype=object)[
            rng.choice(5, n_doc, p=[0.44, 0.15, 0.14, 0.14, 0.13])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    return out


def write_registry_tables(dst: str, files: int) -> None:
    """Write every registry table under ``dst/<table>.parquet/``."""
    for name, table in registry_tables().items():
        n = files if (table.num_rows >= 50_000 or name in EXPLODE_HEAVY) else 1
        os.makedirs(f"{dst}/{name}.parquet")
        step = -(-table.num_rows // n)
        for i in range(n):
            pq.write_table(table.slice(i * step, step),
                           f"{dst}/{name}.parquet/part-{i:05d}.parquet")


# ------------------------------------------------------------ reference day
# 856 distinct XX-XXXX codes: [0:654] prefixes on both sides, [654:774]
# O*NET-only prefixes, [774:856] OEWS-only codes (tests/test_reference_day).
CODES = [f"{10 + i % 90:02d}-{1000 + i // 90:04d}" for i in range(856)]
MATCHED, ONET_ONLY, OEWS_ONLY = CODES[:654], CODES[654:774], CODES[774:856]
N_ELEMENTS = 35

OEWS_HEADERS = [
    "Occupation (SOC code)", "Employment(1)",
    "Employment percent relative standard error(3)", "Hourly mean wage()",
    "Annual mean wage(2)", "Wage percent relative standard error(3)",
    "Hourly 10th percentile wage()", "Hourly 25th percentile wage()",
    "Hourly median wage()", "Hourly 75th percentile wage()",
    "Hourly 90th percentile wage()", "Annual 10th percentile wage(2)",
    "Annual 25th percentile wage(2)", "Annual median wage(2)",
    "Annual 75th percentile wage(2)", "Annual 90th percentile wage(2)",
    "Employment per 1,000 jobs()", "Location Quotient()",
]
SKILLS_HEADERS = [
    "O*NET-SOC Code", "Title", "Element ID", "Element Name", "Scale ID",
    "Scale Name", "Data Value", "N", "Standard Error", "Lower CI Bound",
    "Upper CI Bound", "Recommend Suppress", "Not Relevant", "Date",
    "Domain Source",
]
_TITLE_WORDS = (
    "Chief Senior General Field Data Clinical Marine Civil Legal Retail "
    "Software Nursing Farm Transit Forest Mining Plant Sales Office Audio"
).split()
_JOBS = "Managers Analysts Technicians Operators Workers Engineers Clerks Aides".split()
_DATES = ["07/2015", "08/2016", "07/2017", "08/2018", "08/2019",
          "08/2021", "08/2023", "08/2025"]


def onet_codes() -> list[tuple[str, str]]:
    """(O*NET code, SOC prefix): 114 matched and 6 O*NET-only prefixes
    carry two codes, the rest one; 894 codes, 768 with a matched prefix."""
    out = []
    for i, p in enumerate(MATCHED):
        out += [(f"{p}.00", p)] + ([(f"{p}.01", p)] if i < 114 else [])
    for i, p in enumerate(ONET_ONLY):
        out += [(f"{p}.00", p)] + ([(f"{p}.01", p)] if i < 6 else [])
    return out


class RefDay:
    """One seeded reference day: the OEWS page, the Skills workbook rows
    and the expected outputs computed without Spark."""

    def __init__(self, seed: int):
        rng = np.random.default_rng(seed)
        self.oews_rows: list[list[str]] = []
        self.wage: dict[str, int | None] = {}
        for code in MATCHED + OEWS_ONLY:
            title = (f"{_TITLE_WORDS[rng.integers(0, 20)]}, "
                     f"{_TITLE_WORDS[rng.integers(0, 20)]} {_JOBS[rng.integers(0, 8)]}")
            hourly = round(float(rng.uniform(12, 90)), 2)
            annual = int(round(hourly * 2080))
            # ~1.5% of annual means are suppressed, as in the reference
            self.wage[code] = None if rng.random() < 0.015 else annual
            pct = sorted(rng.uniform(0.5, 1.6, 5) * hourly)
            cells = [
                f"{title} ({code})",
                self._cell(rng, f"{int(rng.integers(30, 200_000)):,}", 0.03),
                self._cell(rng, f"{rng.uniform(0.2, 30):.1f}", 0.03),
                self._cell(rng, f"${hourly:.2f}", 0.08),
                f"(){self._fmt_annual(self.wage[code])}" if self.wage[code] else "(5)-",
                self._cell(rng, f"{rng.uniform(0.2, 15):.1f}", 0.01),
                *[self._cell(rng, f"${h:.2f}", 0.09) for h in pct],
                *[self._cell(rng, self._fmt_annual(int(round(h * 2080))), 0.03)
                  for h in pct],
                self._cell(rng, f"{rng.uniform(0.01, 60):,.3f}", 0.03),
                self._cell(rng, f"{rng.uniform(0.1, 5):.2f}", 0.03),
            ]
            self.oews_rows.append(cells)
        rng.shuffle(self.oews_rows)
        self.html = self._html()

        self.codes = onet_codes()
        self.elements = [(f"2.A.{e // 10 + 1}.{chr(97 + e % 10)}",
                          f"Skill {e:02d} {_TITLE_WORDS[e % 20]}")
                         for e in range(N_ELEMENTS)]
        self.onet_titles = {c: f"{_TITLE_WORDS[rng.integers(0, 20)]} "
                            f"{_JOBS[rng.integers(0, 8)]} {c}" for c, _ in self.codes}
        self.skill_seed = int(rng.integers(0, 2**31))

    @staticmethod
    def _cell(rng, value: str, suppress: float) -> str:
        """Reference cell grammar: ``()``/``(N)`` footnote prefix, or a
        suppressed ``(N)-`` marker."""
        if rng.random() < suppress:
            return f"({int(rng.integers(1, 9))})-"
        mark = "" if rng.random() < 0.9 else str(int(rng.integers(1, 9)))
        return f"({mark}){value}"

    @staticmethod
    def _fmt_annual(v: int) -> str:
        return f"${v:,}"

    def _html(self) -> str:
        head = "".join(f"<th>{escape(h)}</th>" for h in OEWS_HEADERS)
        body = ["<tr>" + "".join(f"<td>{escape(c)}</td>" for c in r) + "</tr>"
                for r in self.oews_rows]
        # two trailing footer rows, dropped positionally by the extractor
        empty = "<td></td>" * (len(OEWS_HEADERS) - 1)
        body.append(f"<tr><td>(1) Estimates do not include self-employed</td>{empty}</tr>")
        body.append(f"<tr><td>SOC code: Standard Occupational Classification</td>{empty}</tr>")
        return ("<html><head><title>OEWS</title></head><body><h1>May 2024</h1>"
                "<table id='oews'><thead><tr>" + head + "</tr></thead><tbody>"
                + "".join(body) + "</tbody></table></body></html>")

    def skills_rows(self) -> list[list]:
        """The Skills sheet: 894 codes × 35 elements × 2 scales."""
        rng = np.random.default_rng(self.skill_seed)
        n = len(self.codes) * N_ELEMENTS * 2
        value = np.round(rng.uniform(0, 7, n), 2)
        se = np.round(rng.uniform(0, 0.6, n), 4)
        count = rng.integers(8, 40, n)
        flags = rng.random(n)
        date = rng.integers(0, len(_DATES), len(self.codes))
        rows, k = [], 0
        for j, (code, _p) in enumerate(self.codes):
            for eid, ename in self.elements:
                for scale, sname in (("IM", "Importance"), ("LV", "Level")):
                    v, s = float(value[k]), float(se[k])
                    rows.append([
                        code, self.onet_titles[code], eid, ename, scale, sname,
                        v, int(count[k]), s, round(v - 1.96 * s, 4),
                        round(v + 1.96 * s, 4), "Y" if flags[k] < 0.02 else "N",
                        None if scale == "IM" else ("Y" if flags[k] > 0.9 else "N"),
                        _DATES[date[j]], "Analyst",
                    ])
                    k += 1
        return rows

    def expected_top(self, k: int = 10) -> list[tuple[str, int | None]]:
        """Top-``k`` O*NET titles by the OEWS annual mean wage of their SOC
        prefix: wage descending with NULLs last, ties by title."""
        matched = set(MATCHED)
        ranked = sorted(
            ((self.onet_titles[c], self.wage[p]) for c, p in self.codes if p in matched),
            key=lambda t: (t[1] is None, -(t[1] or 0), t[0]),
        )
        return ranked[:k]


def _col_letter(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, header: list[str], rows: list[list]) -> None:
    """Write a one-sheet xlsx workbook (shared strings, numeric cells,
    empty cells omitted) with the standard library only."""
    strings: dict[str, int] = {}
    letters = [_col_letter(i) for i in range(len(header))]
    out = []
    for r, values in enumerate([header] + rows, start=1):
        cells = []
        for col, v in zip(letters, values):
            if v is None:
                continue
            if isinstance(v, str):
                idx = strings.setdefault(v, len(strings))
                cells.append(f'<c r="{col}{r}" t="s"><v>{idx}</v></c>')
            else:
                cells.append(f'<c r="{col}{r}"><v>{v!r}</v></c>')
        out.append(f'<row r="{r}">{"".join(cells)}</row>')
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    sst = "".join(f"<si><t>{escape(s)}</t></si>" for s in strings)
    parts = {
        "[Content_Types].xml": (
            '<?xml version="1.0" encoding="UTF-8"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            "</Types>"),
        "_rels/.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_ns}">'
            f'<Relationship Id="rId1" Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
            "</Relationships>"),
        "xl/workbook.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><workbook {ns} xmlns:r="{rel_ns}">'
            '<sheets><sheet name="Skills" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        "xl/_rels/workbook.xml.rels": (
            f'<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="{pkg_ns}">'
            f'<Relationship Id="rId1" Type="{rel_ns}/worksheet" Target="worksheets/sheet1.xml"/>'
            f'<Relationship Id="rId2" Type="{rel_ns}/sharedStrings" Target="sharedStrings.xml"/>'
            "</Relationships>"),
        "xl/sharedStrings.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><sst {ns} count="{len(strings)}" '
            f'uniqueCount="{len(strings)}">{sst}</sst>'),
        "xl/worksheets/sheet1.xml": (
            f'<?xml version="1.0" encoding="UTF-8"?><worksheet {ns}><sheetData>'
            + "".join(out) + "</sheetData></worksheet>"),
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
        for name, text in parts.items():
            zf.writestr(name, text)


def first_day(seed: int) -> dt.date:
    """The seeded date of the first snapshot day."""
    return dt.date(2025, 1, 1) + dt.timedelta(days=seed % 300)

"""Excel source (reference S3: ``pd.read_excel(Skills.xlsx)``,
``pipeline/load_data.py:282-286``).

OSS PySpark has no first-class Excel reader; the idiomatic shape is a
thin driver-side read → ``createDataFrame`` (Arrow-accelerated).
Workbooks are small config/dimension artifacts — if Excel ever became a
big-data source the right move is converting to parquet at the edge, not
parallelizing xlsx parsing.

Two engines, tried in order:

1. ``pandas.read_excel`` (openpyxl) when available — full xlsx surface.
2. A self-contained stdlib reader for the ECMA-376 subset that dimension
   workbooks actually use: one value per cell, shared/inline strings,
   numbers, booleans, error values.  ``zipfile`` opens the package and
   ``xml.etree`` reads its small parts (workbook, relationships, shared
   strings).  The worksheet, the one large part, is read by one pass of
   one compiled ``re`` tokenizer over its ``<sheetData>``, with no DOM.
   Data cells get the values ``pandas.read_excel`` gives them: text equal
   to one of pandas' default NA strings becomes NULL, and an error cell
   (``#DIV/0!``) keeps its text.  This keeps S3 fully exercisable (and
   tested end-to-end) in environments without openpyxl.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
import zipfile

from pyspark.sql import DataFrame, SparkSession

_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_REL_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
_PKG_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"

# pandas' default ``na_values`` (``pandas._libs.parsers.STR_NA_VALUES``):
# ``pd.read_excel`` turns a data cell holding one of these texts into NaN.
NA_STRINGS = frozenset({
    "", "#N/A", "#N/A N/A", "#NA", "-1.#IND", "-1.#QNAN", "-NaN", "-nan",
    "1.#IND", "1.#QNAN", "<NA>", "N/A", "NA", "NULL", "NaN", "None", "n/a",
    "nan", "null",
})

# One token per ``<row …>`` start or per whole ``<c …>`` cell, attributes in
# any order and either quote style.  Groups: 1 the namespace prefix ("" or
# e.g. "x:"), matched again inside the cell as ``\1``; 2 "row" on a row
# start; 3 the column letters of ``r=``; 4 ``t=``; 5 the ``<v>`` text;
# 6 the whole ``<is>`` element of an inline string.
_TOKEN_RE = re.compile(
    r"""<(\w+:|)(?:
      (row)\b[^>]*
    | c(?:\s+(?:r\s*=\s*["']([A-Z]+)\d[^"'>]*["']
              |t\s*=\s*["'](\w*)["']
              |[^\s=>/]+\s*=\s*(?:"[^"]*"|'[^']*')))*\s*
      (?:/
      |>\s*(?:<\1f\b[^>]*(?:/>|>[^<]*</\1f\s*>)\s*)?
        (?:<\1v\s*>([^<]*)</\1v\s*>\s*|<\1v\s*/>\s*)?
        (<\1is\s*/>|<\1is\s*>.*?</\1is\s*>)?
        .*?</\1c\s*)
    )>""",
    re.S | re.X,
)
_INLINE_TEXT_RE = re.compile(r"<(?:\w+:)?t(?:\s[^>]*)?(?<!/)>([^<]*)</(?:\w+:)?t\s*>")
_SHEET_DATA_RE = re.compile(r"<(\w+:|)sheetData\b[^>]*?(/?)>")
_XML_ENCODING_RE = re.compile(rb"(?:\xef\xbb\xbf)?<\?xml[^>]*?\sencoding\s*=\s*[\"']([^\"']*)")
_ENTITY_RE = re.compile(r"&(#x[0-9a-fA-F]+|#[0-9]+|[^;&]*);")
_ENTITIES = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 … (base-26 bijective column letters)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _shared_strings(zf: zipfile.ZipFile) -> list[str]:
    try:
        data = zf.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    out = []
    for si in ET.fromstring(data).iter(f"{_NS}si"):
        # plain <t> or rich-text runs <r><t>…</t></r>: concatenate all t
        out.append("".join(t.text or "" for t in si.iter(f"{_NS}t")))
    return out


def _sheet_path(zf: zipfile.ZipFile, sheet_name: int | str) -> str:
    wb = ET.fromstring(zf.read("xl/workbook.xml"))
    rels = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.iter(f"{_PKG_REL_NS}Relationship")
    }
    sheets = [
        (s.get("name"), s.get(f"{_REL_NS}id"))
        for s in wb.iter(f"{_NS}sheet")
    ]
    if not sheets:
        raise ValueError("workbook has no sheets")
    if isinstance(sheet_name, int):
        if not 0 <= sheet_name < len(sheets):
            raise ValueError(f"sheet index {sheet_name} out of range")
        rid = sheets[sheet_name][1]
    else:
        by_name = {name: rid for name, rid in sheets}
        if sheet_name not in by_name:
            raise ValueError(f"sheet {sheet_name!r} not found")
        rid = by_name[sheet_name]
    target = rid_to_target[rid].lstrip("/")
    return target if target.startswith("xl/") else f"xl/{target}"


def _entity(m: re.Match) -> str:
    name = m.group(1)
    if name[:2] == "#x":
        return chr(int(name[2:], 16))
    if name[:1] == "#":
        return chr(int(name[1:]))
    if name not in _ENTITIES:
        raise ValueError(f"worksheet uses the undefined entity &{name};")
    return _ENTITIES[name]


def _text(raw: str) -> str:
    """Character data as an XML parser reports it: line ends normalised,
    then entity and character references replaced."""
    if "\r" in raw:
        raw = raw.replace("\r\n", "\n").replace("\r", "\n")
    return _ENTITY_RE.sub(_entity, raw) if "&" in raw else raw


def _value(t: str, v: str, inline: str, strings: list, na: frozenset):
    """One cell's value from its type ``t``, its ``<v>`` text and its
    ``<is>`` element.  ``strings`` is the shared-string table, and text in
    ``na`` becomes None."""
    if t == "s":
        return strings[int(v)] if v else None
    if t == "b":
        return v == "1" if v else None
    if t == "inlineStr":  # plain <t> or rich-text runs <r><t>…</t></r>
        if not inline:
            return None
        text = "".join(map(_text, _INLINE_TEXT_RE.findall(inline)))
    elif t == "str" or t == "e":  # formula-cached text, error value
        if not v:
            return None
        text = _text(v)
    else:
        if not v:
            return None
        num = float(v)
        return int(num) if num.is_integer() else num
    return None if text in na else text


def _sheet_data(xml: bytes) -> str:
    """The decoded content of the worksheet's ``<sheetData>`` element."""
    m = _XML_ENCODING_RE.match(xml)
    encoding = m.group(1).decode("ascii", "replace") if m else (
        "UTF-16" if xml[:2] in (b"\xff\xfe", b"\xfe\xff") else "UTF-8")
    if encoding.lower() not in ("utf-8", "utf8"):
        raise ValueError(f"worksheet encoding {encoding!r} is not supported, only UTF-8")
    doc = xml.decode("utf-8")
    m = _SHEET_DATA_RE.search(doc)
    if m is None or m.group(2):
        return ""
    end = doc.rfind(f"</{m.group(1)}sheetData")
    if end < m.end():
        raise ValueError("worksheet <sheetData> is not closed")
    body = doc[m.end():end]
    if "<![CDATA[" in body:
        raise ValueError("worksheet CDATA sections are not supported")
    if "<!--" in body:
        body = re.sub(r"<!--.*?-->", "", body, flags=re.S)
    return body


def _columns(tokens, strings: list, na: frozenset) -> tuple[dict[int, list], int]:
    """One value list per column index from a run of whole-row tokens,
    each padded to the returned row count.  A cell without ``r=`` takes
    the index equal to the number of columns its row has filled so far."""
    cols: dict[int, list] = {}
    col_of: dict[str, int] = {}
    n = -1
    for _, row, letters, t, v, inline in tokens:
        if row:
            n += 1
            continue
        if letters:
            idx = col_of.get(letters)
            if idx is None:
                idx = col_of[letters] = _col_index(letters)
        else:
            idx = sum(len(c) > n for c in cols.values())
        col = cols.get(idx)
        if col is None:
            col = cols[idx] = []
        value = _value(t, v, inline, strings, na)
        k = len(col)
        if k == n:
            col.append(value)
        elif k < n:
            col += [None] * (n - k)
            col.append(value)
        else:  # a repeated column in one row: the last cell wins
            col[n] = value
    n += 1
    for col in cols.values():
        col += [None] * (n - len(col))
    return cols, n


def _read_columns(path: str, sheet_name: int | str) -> tuple[list[str], list[list], int]:
    """(header, one value list per column, data row count) of one sheet."""
    with zipfile.ZipFile(path) as zf:
        strings = _shared_strings(zf)
        tokens = _TOKEN_RE.findall(_sheet_data(zf.read(_sheet_path(zf, sheet_name))))
    if not tokens:
        return [], [], 0
    if not tokens[0][1]:
        raise ValueError("worksheet has a cell outside any <row>")
    # The header row keeps its text as written, as pandas keeps column names;
    # the data rows get the NA rule, mapped once over the shared strings.
    end = next((i for i in range(1, len(tokens)) if tokens[i][1]), len(tokens))
    head, _ = _columns(tokens[:end], strings, frozenset())
    cols, n = _columns(tokens[end:], [None if s in NA_STRINGS else s for s in strings], NA_STRINGS)
    width = max([*head, *cols], default=-1) + 1
    header = [
        str(h) if (h := head.get(i, [None])[0]) is not None else f"col_{i}"
        for i in range(width)
    ]
    return header, [cols.get(i) or [None] * n for i in range(width)], n


def read_xlsx_stdlib(path: str, sheet_name: int | str = 0) -> tuple[list[str], list[list]]:
    """Parse one worksheet with the stdlib only.

    Returns (header, rows): first sheet row is the header (the pandas
    ``read_excel`` default the reference relies on), remaining rows are
    padded/truncated to the header width.  Supported cell types: number,
    shared string, inline string, formula-cached string, boolean, error.

    The worksheet is tokenized with ``re``, not parsed into a DOM.  As in
    ``pd.read_excel``, a data cell whose text is one of ``NA_STRINGS`` is
    None, and an error cell holds its error text (``#DIV/0!``; ``#N/A``
    is an NA string).  A worksheet with a CDATA section, or declared in
    an encoding other than UTF-8, raises ``ValueError``.
    """
    header, columns, n = _read_columns(path, sheet_name)
    return header, [list(r) for r in zip(*columns)] if columns else [[] for _ in range(n)]


def from_pandas(spark: SparkSession, pdf) -> DataFrame:
    """pandas → Spark DataFrame (Arrow path), normalizing pandas NA→NULL."""
    import pandas as pd

    return spark.createDataFrame(pdf.where(pd.notna(pdf), None))


def _dedup_header(header: list[str]) -> list[str]:
    """Rename repeated names the way ``pandas.read_excel`` does: the
    second ``x`` becomes ``x.1``, the third ``x.2``, skipping any name
    already taken."""
    seen: dict[str, int] = {}
    out = []
    for name in header:
        n = seen.get(name, 0)
        while n:
            seen[name] = n + 1
            name = f"{name}.{n}"
            n = seen.get(name, 0)
        seen[name] = 1
        out.append(name)
    return out


def _stdlib_frame(path: str, sheet_name: int | str = 0):
    """The stdlib engine's pandas frame.  Built from columns, pandas infers
    the dtypes it infers from rows, except with no rows (float64 from
    columns, object from rows)."""
    import pandas as pd

    header, columns, n = _read_columns(path, sheet_name)
    pdf = pd.DataFrame(dict(enumerate(columns)), index=range(n), dtype=None if n else object)
    pdf.columns = _dedup_header(header)
    return pdf


def read_excel(spark: SparkSession, path: str, sheet_name: int | str = 0) -> DataFrame:
    """Read an Excel sheet into a DataFrame.

    Uses pandas/openpyxl when installed; otherwise the stdlib subset
    parser (sufficient for the reference's Skills.xlsx-style workbooks:
    a header row + typed scalar cells), with duplicate header names
    renamed as pandas renames them.
    """
    import pandas as pd

    try:
        pdf = pd.read_excel(path, sheet_name=sheet_name, engine="openpyxl")
    except ImportError:
        pdf = _stdlib_frame(path, sheet_name)
    return from_pandas(spark, pdf)

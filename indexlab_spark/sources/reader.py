"""Source readers (SURVEY §2.1, S1-S8).

Reference: /root/reference/app/ingest/reader.py (pandas readers + CHM
decompile + HTML strip) and app/api/chunk_preview.py:66-101 (format
sniffing). Re-expressed Spark-first:

- CSV/JSON/text go through ``spark.read`` — distributed scans with
  schema inference, predicate pushdown and column pruning for free.
- Excel has no native Spark reader here: driver-side pandas.read_excel
  gated behind an import-try (openpyxl/xlrd are not installed in this
  container) feeding ``spark.createDataFrame`` — the file is one
  upload, driver-side is the honest scale story anyway.
- CHM decompilation (reader.py:44-83 shells to hh.exe / 7-Zip): done
  natively instead — ``sources/chm.py`` implements the ITSS container
  and LZX decompression from the public format documents on pure
  stdlib, so ``read_chm`` extracts members in-process (no binaries)
  and applies the reference's .htm/.html/.hhc/.hhk filter + caps. The
  post-extraction HTML walk over an already-extracted tree also stays
  available (``read_html_tree``) over ``binaryFile``.
- HTML -> text strips script/style/noscript and joins non-empty lines
  (reader.py:10-20); bs4 is unavailable so a regex-based stripper with
  the same contract is used (import-try keeps bs4 preferred when
  present).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from indexlab_spark.session import local_frame

CHM_MAX_FILES = 10_000  # reference reader.py:7
CHM_MAX_BYTES = 100 * 1024 * 1024  # reference reader.py:8

_EXT_CSV = {".csv"}
_EXT_EXCEL = {".xls", ".xlsx"}
_EXT_JSON = {".json"}
_EXT_HTML = {".htm", ".html", ".hhc", ".hhk"}
_EXT_COLUMNAR = {".parquet", ".orc"}  # Spark-native columnar formats


# ------------------------------------------------------------------ S6 HTML
def html_to_text(html: str) -> str:
    """S6 — drop script/style/noscript, strip tags, join non-empty lines
    (reader.py:10-20 contract). Uses bs4 when available, else a regex
    stripper with the same observable behavior on well-formed HTML."""
    try:
        from bs4 import BeautifulSoup  # type: ignore

        soup = BeautifulSoup(html, "html.parser")
        for tag in soup(["script", "style", "noscript"]):
            tag.decompose()
        text = soup.get_text("\n")
    except ImportError:
        no_blocks = re.sub(
            r"<(script|style|noscript)\b[^>]*>.*?</\1\s*>",
            " ",
            html,
            flags=re.IGNORECASE | re.DOTALL,
        )
        no_tags = re.sub(r"<[^>]+>", "\n", no_blocks)
        # &amp; LAST: unescaping it first would double-unescape text like
        # '&amp;lt;' (which should render as '&lt;', not '<')
        text = (
            no_tags.replace("&nbsp;", " ")
            .replace("&lt;", "<")
            .replace("&gt;", ">")
            .replace("&quot;", '"')
            .replace("&amp;", "&")
        )
    lines = [ln.strip() for ln in text.splitlines()]
    return "\n".join(ln for ln in lines if ln)


# ------------------------------------------------------------------ S7 sniff
_COMPRESSED_EXTS = {".gz", ".bz2", ".xz"}


def strip_compression_ext(filename: str) -> tuple[str, str | None]:
    """'data.csv.gz' -> ('data.csv', '.gz'); passthrough otherwise.
    Spark's text-based sources (csv/json/text) decompress
    gzip/bzip2/xz natively by extension, so the FORMAT decision should
    sniff the inner name."""
    base, ext = os.path.splitext(filename)
    if ext.lower() in _COMPRESSED_EXTS:
        return base, ext.lower()
    return filename, None


def sniff_format(filename: str, head: bytes) -> str:
    """S7 — extension first, then magic bytes
    (chunk_preview.py:66-101 semantics): PK zip -> xlsx, OLE2 -> xls,
    '{'/'[' -> json, comma+newline heuristics -> csv, else txt.
    Compressed extensions (.gz/.bz2/.xz) are transparent: the inner
    extension decides (Spark decompresses these codecs natively for
    csv/json/text sources)."""
    filename, _codec = strip_compression_ext(filename)
    ext = os.path.splitext(filename)[1].lower()
    if ext in _EXT_CSV:
        return "csv"
    if ext in _EXT_EXCEL:
        return "excel"
    if ext in _EXT_JSON:
        return "json"
    if ext in _EXT_HTML:
        return "html"
    if ext == ".chm":
        return "chm"
    if ext in _EXT_COLUMNAR:
        return ext[1:]  # "parquet" | "orc"
    if ext in {".txt", ".md"}:
        return "text"
    if head.startswith(b"PAR1"):
        return "parquet"
    if head.startswith(b"ORC"):
        return "orc"
    if head.startswith(b"PK"):
        return "excel"
    if head.startswith(b"\xd0\xcf\x11\xe0"):
        return "excel"
    if head.startswith(b"ITSF"):
        return "chm"
    stripped = head.lstrip()
    if stripped[:1] in (b"{", b"["):
        return "json"
    try:
        sample = head.decode("utf-8", errors="ignore")
    except Exception:
        sample = ""
    first_line = sample.splitlines()[0] if sample.splitlines() else ""
    if "," in first_line and "\n" in sample:
        return "csv"
    return "text"


# ------------------------------------------------------------------- read_any
def _codec_open(path: str, codec: str):
    import bz2
    import gzip
    import lzma

    return {".gz": gzip.open, ".bz2": bz2.open, ".xz": lzma.open}[codec](
        path, "rb"
    )


def read_any(spark: SparkSession, path: str) -> DataFrame:
    """S1-S5 dispatch — one DataFrame per source file, schema inferred
    (reader.py:136-161 contract). Compressed single files (.gz/.bz2/.xz)
    are transparent: csv/json ride Spark's native codec support
    (executor-side decompression); text/html/excel decompress in the
    driver (single-file driver formats already)."""
    _, codec = strip_compression_ext(os.path.basename(path))
    if codec:
        with _codec_open(path, codec) as f:
            head = f.read(4096)
    else:
        with open(path, "rb") as f:
            head = f.read(4096)
    fmt = sniff_format(os.path.basename(path), head)
    if codec and fmt in ("text", "html"):
        with _codec_open(path, codec) as f:
            raw = f.read()
        txt = raw.decode("utf-8", errors="ignore")
        if fmt == "html":
            txt = html_to_text(txt)
        return local_frame(spark, [(txt,)], "text string")
    if codec and fmt == "excel":
        import tempfile

        inner = strip_compression_ext(os.path.basename(path))[0]
        suffix = os.path.splitext(inner)[1] or ".xlsx"
        with _codec_open(path, codec) as f, tempfile.NamedTemporaryFile(
            suffix=suffix, delete=False
        ) as tmp:
            tmp.write(f.read())
            tmp_path = tmp.name
        try:
            return _read_excel_driver(spark, tmp_path)
        finally:
            os.unlink(tmp_path)
    if fmt == "parquet":
        return spark.read.parquet(path)
    if fmt == "orc":
        return spark.read.orc(path)
    if fmt == "csv":
        return (
            spark.read.option("header", True)
            .option("inferSchema", True)
            .csv(path)
        )
    if fmt == "json":
        return spark.read.option("multiLine", True).json(path)
    if fmt == "excel":
        return _read_excel_driver(spark, path)
    if fmt == "html":
        txt = html_to_text(
            open(path, "r", encoding="utf-8", errors="ignore").read()
        )
        return local_frame(spark, [(txt,)], "text string")
    if fmt == "chm":
        return read_chm(spark, path)
    # text/markdown: whole file -> one row, utf-8 errors ignored
    # (reader.py:157-159)
    txt = open(path, "r", encoding="utf-8", errors="ignore").read()
    return local_frame(spark, [(txt,)], "text string")


def _read_excel_driver(spark: SparkSession, path: str) -> DataFrame:
    """S2 — Excel ingestion (reference app/ingest/reader.py:153-154 uses
    pandas.read_excel: first sheet, first row = header). Prefers
    pandas+openpyxl/xlrd when present; otherwise falls back to the
    stdlib parsers — .xlsx is a zip of ECMA-376 XML (parser below), and
    legacy .xls is OLE2+BIFF8 (sources/xls.parse_xls, round 6 — no xlrd
    needed for the common record set). Only exotic variants (encrypted,
    BIFF5, non-8-bit-depth) stay gated."""
    try:
        import pandas as pd

        pdf = pd.read_excel(path)
        return spark.createDataFrame(pdf)
    except (ImportError, ValueError):
        # no engine installed (ImportError), or pandas can't pick one
        # without it (ValueError) — try the stdlib paths
        pass
    try:
        header, rows = _parse_xlsx_stdlib(path)
    except NotImplementedError:
        raise
    except Exception as zip_err:  # not a zip => try legacy .xls (BIFF8)
        from indexlab_spark.sources.xls import parse_xls

        try:
            header, rows = parse_xls(path)
        except Exception as e:
            raise NotImplementedError(
                f"Excel fallback parsers handle .xlsx (OOXML) and .xls "
                f"(BIFF8); install openpyxl/xlrd for this file "
                f"(xlsx error: {zip_err}; xls error: {e})"
            ) from e
    try:
        import pandas as pd
    except ImportError:
        # truly stdlib-only environment: build the frame without pandas
        # (numeric coercion applied per cell — the pandas path's
        # to_numeric parity, column-granular, is approximated row-wise)
        def _coerce(v):
            if isinstance(v, str):
                try:
                    f = float(v)
                    return int(f) if f.is_integer() else f
                except ValueError:
                    return v
            return v

        data = [tuple(_coerce(v) for v in r) for r in rows]
        return spark.createDataFrame(data, schema=list(header))

    pdf = pd.DataFrame(rows, columns=header)
    # pandas.read_excel parity: numeric-looking columns come back numeric
    for c in pdf.columns:
        try:
            pdf[c] = pd.to_numeric(pdf[c])
        except (ValueError, TypeError):
            pass
    return spark.createDataFrame(pdf)


def _parse_xlsx_stdlib(path: str) -> tuple[list[str], list[list]]:
    """Minimal ECMA-376 (OOXML) spreadsheet parser — stdlib only.

    Reads the FIRST sheet in workbook order (pandas.read_excel default),
    resolving shared strings and inline strings; returns (header, rows)
    with the first row as header, remaining rows padded/truncated to the
    header width. Supports cell types s (shared), str (formula string),
    inlineStr, b (boolean), and numeric default. Cells are placed by
    their A1-style column reference, so sparse rows keep alignment.
    """
    import xml.etree.ElementTree as ET
    import zipfile

    NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
    REL_NS = (
        "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
    )

    with zipfile.ZipFile(path) as z:
        names = set(z.namelist())

        # first sheet in workbook order -> its part via the rels map
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        first_sheet = wb.find(f"{NS}sheets/{NS}sheet")
        if first_sheet is None:
            raise NotImplementedError("xlsx has no sheets")
        rid = first_sheet.get(f"{REL_NS}id")
        target = None
        if "xl/_rels/workbook.xml.rels" in names and rid:
            rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
            for rel in rels:
                if rel.get("Id") == rid:
                    target = rel.get("Target").lstrip("/")
                    break
        sheet_part = (
            f"xl/{target}" if target and not target.startswith("xl/")
            else (target or "xl/worksheets/sheet1.xml")
        )

        shared: list[str] = []
        if "xl/sharedStrings.xml" in names:
            sst = ET.fromstring(z.read("xl/sharedStrings.xml"))
            for si in sst.findall(f"{NS}si"):
                # plain <t> or rich-text runs <r><t>
                shared.append("".join(t.text or "" for t in si.iter(f"{NS}t")))

        sheet = ET.fromstring(z.read(sheet_part))
        grid: list[list] = []
        for row in sheet.find(f"{NS}sheetData") or []:
            cells: dict[int, object] = {}
            for c in row.findall(f"{NS}c"):
                ref = c.get("r") or ""
                col = 0
                for ch in ref:
                    if ch.isalpha():
                        col = col * 26 + (ord(ch.upper()) - 64)
                    else:
                        break
                idx = col - 1 if col > 0 else len(cells)
                t = c.get("t", "n")
                v = c.find(f"{NS}v")
                if t == "s":
                    val = shared[int(v.text)] if v is not None else ""
                elif t == "inlineStr":
                    is_ = c.find(f"{NS}is")
                    val = (
                        "".join(x.text or "" for x in is_.iter(f"{NS}t"))
                        if is_ is not None
                        else ""
                    )
                elif t == "b":
                    val = v is not None and v.text == "1"
                elif v is None or v.text is None:
                    val = None
                elif t == "str":
                    val = v.text
                else:
                    f_ = float(v.text)
                    val = int(f_) if f_.is_integer() else f_
                cells[idx] = val
            width = max(cells) + 1 if cells else 0
            grid.append([cells.get(i) for i in range(width)])

    if not grid:
        raise NotImplementedError("xlsx sheet is empty")
    header = [str(h) if h is not None else f"col{i}" for i, h in enumerate(grid[0])]
    w = len(header)
    rows = [(r + [None] * w)[:w] for r in grid[1:]]
    return header, rows


# --------------------------------------------------------- S5 HTML tree walk
def read_html_tree(spark: SparkSession, root_dir: str) -> DataFrame:
    """S5 (post-decompile part) — walk .htm/.html/.hhc/.hhk under a
    directory, strip HTML, one row per file: (path, text). Caps: 10k
    files / 100 MB (reader.py:7-8,100-133).

    Distributed: ``binaryFile`` scan + decode/strip per file. The
    pathGlobFilter pushes the extension filter into the file listing.
    """
    from pyspark.sql.window import Window

    src = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.{htm,html,hhc,hhk}")
        .option("recursiveFileLookup", True)
        .load(root_dir)
    )
    # CUMULATIVE cap, matching the reference walk (reader.py:100-133):
    # it accumulates bytes across files in walk order and STOPS at
    # 100 MB total — a per-file cap would let 10k x 50 MB files through.
    # The metadata pass selects only (path, length) — binaryFile prunes
    # the content column, so no file bytes are read to compute the cut;
    # the running-sum window is bounded by CHM_MAX_FILES rows (metadata,
    # not corpus), like the other constant-bounded SinglePartition
    # stages.
    w = Window.orderBy("path").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    kept = (
        src.select("path", "length")
        .orderBy("path")
        .limit(CHM_MAX_FILES)
        .withColumn("_cum", F.sum("length").over(w))
        .filter(F.col("_cum") <= CHM_MAX_BYTES)
        .select("path")
    )

    @F.udf("string")
    def _strip(content: bytes) -> str:
        if content is None:
            return ""
        return html_to_text(content.decode("utf-8", errors="ignore"))

    # The kept set is metadata (≤ CHM_MAX_FILES paths) — collect it and
    # load ONLY those files for content. A join of the full content scan
    # against `kept` would read every file's bytes and then discard the
    # over-cap ones; passing the explicit file list bounds the content
    # IO itself, like the reference walk's early stop (reader.py:100-133).
    # load() treats every path as a Hadoop GLOB: a literal filename like
    # 'intro[1].htm' (a very common CHM/browser-cache artifact name)
    # would be expanded as a character class — PATH_NOT_FOUND, or worse
    # a silently-matched sibling file. Backslash-escape the glob
    # metacharacters so each collected path is read literally.
    _GLOB_META = re.compile(r"([*?\[\]{}\\])")
    kept_paths = [_GLOB_META.sub(r"\\\1", r["path"]) for r in kept.collect()]
    if not kept_paths:
        return local_frame(spark, [], "path string, text string")
    content = spark.read.format("binaryFile").load(kept_paths)
    return (
        content.select(F.col("path"), _strip(F.col("content")).alias("text"))
        .filter(F.trim("text") != "")
    )


_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?\s*([A-Za-z0-9_.:-]+)", re.IGNORECASE
)


def _decode_html_bytes(content: bytes) -> str:
    """Charset handling mirroring bs4's detection order (the reference's
    S6 path honors the document's declared encoding via bs4): BOM, then
    the ``<meta charset>`` / http-equiv declaration, then strict UTF-8,
    then cp1252 — the dominant legacy charset in real-world CHM HTML,
    where a blind ``utf-8 errors='ignore'`` silently drops bytes."""
    if content.startswith(b"\xef\xbb\xbf"):
        return content[3:].decode("utf-8", errors="replace")
    if content.startswith((b"\xff\xfe", b"\xfe\xff")):
        return content.decode("utf-16", errors="replace")
    m = _META_CHARSET_RE.search(content[:4096])
    if m:
        enc = m.group(1).decode("ascii", errors="ignore").strip().lower()
        try:
            return content.decode(enc, errors="replace")
        except (LookupError, ValueError):
            pass
    try:
        return content.decode("utf-8")
    except UnicodeDecodeError:
        return content.decode("cp1252", errors="replace")


def read_chm(spark: SparkSession, path: str) -> DataFrame:
    """S5 — CHM ingestion without external binaries (reference
    reader.py:44-83 shells to ``hh.exe -decompile`` / 7-Zip and walks
    the extracted tree at reader.py:100-133; we parse the ITSS
    container and decompress the LZX content section in-process via
    ``sources/chm.py``). Contract mirrored from the reference walk:

    - only ``.htm/.html/.hhc/.hhk`` members count and are emitted;
    - caps: 10k kept files / 100 MB kept bytes, walk stops at either;
    - HTML → text via the shared S6 stripper; empty-text rows dropped;
    - rows ``{path, text}`` with the member's archive-relative path.

    A .chm is one driver-side file (≤100 MB by contract), so parse +
    extract run on the driver and the rows are parallelized for the
    distributed HTML-heavy downstream — the same boundary the
    reference's tempdir walk implies."""
    from .chm import extract_chm

    def _want(name: str) -> bool:
        return name.lower().endswith((".htm", ".html", ".hhc", ".hhk"))

    data = open(path, "rb").read()
    rows = []
    for member, content in extract_chm(
        data, max_files=CHM_MAX_FILES, max_bytes=CHM_MAX_BYTES, want=_want
    ):
        text = html_to_text(_decode_html_bytes(content))
        if text.strip():
            rows.append((member, text))
    return local_frame(spark, rows, "path string, text string")


# ------------------------------------------------------------------- S8 gold
def load_gold(spark: SparkSession, path: str) -> DataFrame:
    """S8 — gold set loader (eval_api.py:22-48): case-insensitive
    ``question``/``expected_id`` headers, str-trim values, drop empties."""
    df = read_any(spark, path)
    lower = {c.lower().strip(): c for c in df.columns}
    missing = {"question", "expected_id"} - set(lower)
    if missing:
        raise ValueError(
            f"gold file must have question/expected_id columns, missing {missing}"
        )
    out = df.select(
        F.trim(F.col(lower["question"]).cast("string")).alias("question"),
        F.trim(F.col(lower["expected_id"]).cast("string")).alias("expected_id"),
    )
    return out.filter((F.col("question") != "") & (F.col("expected_id") != ""))

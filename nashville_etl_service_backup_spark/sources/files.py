"""File ingestion — S13 (CSV + synonym normalization), S18 (JSON), and
the binary-document plumbing for S11/S14/S15 (PDF/Excel/Word parsing
over `binaryFile` rows).

The image/audio/doc parsing libraries are not in this container, so the
byte→text decode step is an injected callable with a clearly-marked
NotImplementedError default; the Spark-side plumbing (binaryFile scan,
mapInPandas batch shape, output schema, downstream extraction) is real
and tested with a fake decoder.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nashville_etl_service_backup_spark.schemas import SYNONYM_TO_CANONICAL


def normalize_columns(df: DataFrame) -> DataFrame:
    """S13 synonym normalization (document_spider.py:25-33,277-301):
    lower-case headers, map synonyms onto canonical names; when several
    synonyms of one canonical field are present, coalesce in mapping
    order (the fixtures guarantee exactly one populated per row)."""
    lowered = df.select(
        *[F.col(f"`{c}`").alias(c.strip().lower()) for c in df.columns]
    )
    cols = set(lowered.columns)
    by_canonical: dict[str, list[str]] = {}
    passthrough: list[str] = []
    for c in lowered.columns:
        canon = SYNONYM_TO_CANONICAL.get(c)
        if canon is None:
            passthrough.append(c)
        else:
            by_canonical.setdefault(canon, []).append(c)
    out_cols = []
    for canon, syns in by_canonical.items():
        if len(syns) == 1:
            out_cols.append(F.col(syns[0]).alias(canon))
        else:
            # empty string counts as unpopulated (messy fixtures)
            exprs = [
                F.when(F.trim(F.col(s).cast("string")) != "", F.col(s))
                for s in syns
            ]
            out_cols.append(F.coalesce(*exprs).alias(canon))
    out_cols += [F.col(c) for c in passthrough]
    return lowered.select(*out_cols)


def read_csv_events(
    spark: SparkSession, path: str, encoding: str = "UTF-8"
) -> DataFrame:
    """S13: header CSV → synonym-normalized frame. The reference retries
    latin-1 on unicode failure (document_spider.py:122-127); Spark's
    reader takes the encoding up front — pass encoding='ISO-8859-1' for
    the fallback."""
    raw = (
        spark.read.option("header", True)
        .option("encoding", encoding)
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return normalize_columns(raw)


def read_json_events(spark: SparkSession, path: str) -> DataFrame:
    """S18: scraper dump — a JSON array or JSON-Lines, told apart by the
    first non-blank character. An array ('[', whatever its layout,
    e.g. Scrapy's one object per line with trailing commas) is read
    whole (multiLine); anything else is JSON-Lines, read line by line.
    multiLine on JSON-Lines would keep only the first record, and line
    mode on an array would turn its bracket lines into corrupt rows."""
    head = (
        spark.read.text(path)
        .select(F.regexp_extract("value", r"^\s*(\S)", 1).alias("c"))
        .filter(F.col("c") != "")
        .first()
    )
    multi_line = head is not None and head.c == "["
    df = spark.read.option("multiLine", multi_line).json(path)
    return normalize_columns(df)


# ---------------------------------------------------------------------------
# Binary document plumbing (S11 PDF / S14 Excel / S15-S16 Word)

Decoder = Callable[[str, bytes], str]

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("original_filepath", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def pymupdf_decoder(path: str, content: bytes) -> str:  # pragma: no cover
    """S11/S12 PDF text extraction (pdf_spider.py:42-50, tasks.py:102-119).
    pymupdf is NOT installed in this container — STUB: the plumbing is
    exercised with a fake decoder in tests."""
    try:
        import pymupdf  # type: ignore
    except ImportError as e:
        raise NotImplementedError(
            "PDF decode requires pymupdf (not available in this container); "
            "inject a Decoder into read_binary_documents()"
        ) from e
    doc = pymupdf.open(stream=content, filetype="pdf")
    try:
        return "\n".join(page.get_text() for page in doc)
    finally:
        doc.close()


def docx_decoder(path: str, content: bytes) -> str:  # pragma: no cover
    """S15/S16 Word extraction (document_spider.py:163-253). STUB — same
    contract as pymupdf_decoder."""
    try:
        import docx  # type: ignore
        import io
    except ImportError as e:
        raise NotImplementedError(
            "DOCX decode requires python-docx (not available in this "
            "container); inject a Decoder into read_binary_documents()"
        ) from e
    d = docx.Document(io.BytesIO(content))
    return "\n".join(p.text for p in d.paragraphs)


def read_binary_documents(
    spark: SparkSession, path: str, decoder: Decoder, glob: str = "*"
) -> DataFrame:
    """binaryFile scan → Arrow-batched decode → (path, text) rows.

    Scale: binaryFile gives one row per file with content bytes;
    partitioning is by file, so a 100 TB document corpus decodes with
    full executor parallelism and zero shuffle.
    """
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.append(
                    {
                        "path": p,
                        "original_filepath": p,
                        "text": decoder(p, bytes(content)),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return binf.mapInPandas(run, DECODED_SCHEMA)


# ---------------------------------------------------------------------------
# Structured document extraction: Excel sheets (S14/U2), Word tables (S15)

# canonical item columns emitted by the structured-document paths
ITEM_COLUMNS = [
    "name", "url", "event_date", "venue_name", "venue_address",
    "description", "category",
]

ITEM_SCHEMA = T.StructType(
    [T.StructField("path", T.StringType())]
    + [T.StructField(c, T.StringType()) for c in ITEM_COLUMNS]
)

# S14: loader(bytes) -> ordered list of (sheet_name, pandas DataFrame)
WorkbookLoader = Callable[[bytes], list]
# S15: loader(bytes) -> list of tables, each a list of rows (row 0 = header)
TablesLoader = Callable[[bytes], list]


def name_quality_ok(name: object) -> bool:
    """P6 (document_spider.py:430-448): ≥3 chars and at least one
    alphabetic character."""
    s = "" if name is None else str(name).strip()
    return len(s) >= 3 and any(c.isalpha() for c in s)


def _frame_to_items(pdf: "pd.DataFrame") -> list[dict]:
    """document_spider.py:277-301,383-448 in pandas form: lower-case
    headers, then ONE source column per canonical field chosen by
    dataframe column order — the reference's
    _normalize_dataframe_columns renames the first matching column per
    standard name regardless of per-row emptiness (a frame with two
    synonym columns for one field uses only the leftmost). Values are
    stringified+stripped, NaN/empty dropped, rows pass the P6 name
    gate. If one column matches several standard names, the later
    mapping wins (reference rename_map overwrite, same loop order)."""
    from nashville_etl_service_backup_spark.schemas import COLUMN_MAPPINGS

    lower = {c: str(c).strip().lower() for c in pdf.columns}
    rename: dict = {}  # source col -> canonical
    for canon, syns in COLUMN_MAPPINGS.items():
        for col in pdf.columns:
            if lower[col] in syns:
                rename[col] = canon
                break
    items = []
    for _, row in pdf.iterrows():
        item: dict = {}
        for col, canon in rename.items():
            v = row[col]
            if v is not None and not pd.isna(v):
                s = str(v).strip()
                if s:
                    item[canon] = s
        if name_quality_ok(item.get("name")):
            items.append(item)
    return items


def _emit_items(path: str, items: list[dict]) -> "pd.DataFrame":
    return pd.DataFrame(
        [
            {"path": path, **{c: it.get(c) for c in ITEM_COLUMNS}}
            for it in items
        ],
        columns=["path"] + ITEM_COLUMNS,
    )


def read_excel_events(
    spark: SparkSession, path: str, loader: WorkbookLoader, glob: str = "*"
) -> DataFrame:
    """S14 (document_spider.py:136-161): sheet 0 first; if it yields no
    valid items, fall back to the union of ALL sheets (U2). The workbook
    parse is an injected loader (openpyxl is not in this container);
    the Spark side — binaryFile scan, Arrow-batched per-file extraction,
    schema — is real."""
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p, content in zip(b["path"], b["content"]):
                sheets = loader(bytes(content))
                items = _frame_to_items(sheets[0][1]) if sheets else []
                if not items:  # U2: union across every sheet
                    items = [
                        it
                        for _, frame in sheets
                        for it in _frame_to_items(frame)
                    ]
                yield _emit_items(p, items)

    return binf.mapInPandas(run, ITEM_SCHEMA)


def read_word_tables(
    spark: SparkSession, path: str, loader: TablesLoader, glob: str = "*"
) -> DataFrame:
    """S15 (document_spider.py:186-215): every docx table → header row +
    data rows → synonym-normalized items, unioned across tables. Table
    parse injected (python-docx not in this container); Spark plumbing
    real."""
    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p, content in zip(b["path"], b["content"]):
                items: list[dict] = []
                for table in loader(bytes(content)):
                    if len(table) < 2:
                        continue
                    frame = pd.DataFrame(table[1:], columns=table[0])
                    items.extend(_frame_to_items(frame))
                yield _emit_items(p, items)

    return binf.mapInPandas(run, ITEM_SCHEMA)


# S16 fallback: loader(bytes) -> list of paragraph strings
ParagraphsLoader = Callable[[bytes], list]


def read_word_events(
    spark: SparkSession,
    path: str,
    tables_loader: TablesLoader,
    paragraphs_loader: ParagraphsLoader,
    glob: str = "*",
) -> DataFrame:
    """S15 + S16 fallback (document_spider.py:160-184): per document,
    tables first; when the tables yield no valid items, fall back to the
    WORD paragraph state machine (_extract_from_word_text,
    document_spider.py:217-253). Both decoders are injected (python-docx
    is not in this container); the Spark side — binaryFile scan,
    per-file Arrow batch, fallback control flow, schema — is real.
    Divergence: items from the fallback pass the same P6 name-quality
    gate as the table path (the reference gates only name presence)."""
    from nashville_etl_service_backup_spark.sources.text_extract import (
        extract_events_from_word_text,
    )

    binf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for p, content in zip(b["path"], b["content"]):
                raw = bytes(content)
                items: list[dict] = []
                for table in tables_loader(raw):
                    if len(table) < 2:
                        continue
                    frame = pd.DataFrame(table[1:], columns=table[0])
                    items.extend(_frame_to_items(frame))
                if not items:
                    items = [
                        {
                            c: ev.get(c)
                            for c in ITEM_COLUMNS
                            if ev.get(c) is not None
                        }
                        for ev in extract_events_from_word_text(
                            paragraphs_loader(raw)
                        )
                        if name_quality_ok(ev.get("name"))
                    ]
                yield _emit_items(p, items)

    return binf.mapInPandas(run, ITEM_SCHEMA)

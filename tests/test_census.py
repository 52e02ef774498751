"""Census of package code that only tests reach (ROADMAP D3).

Every public top-level def or class outside ``queries/`` must be used by
package code, ``bench.py``, ``__spark_entry__.py``, ``graftbench/`` or
``tools/`` — or be pinned below with the SURVEY id (or named reason)
that keeps it. A new helper that only tests call fails here until it is
either wired into a caller, pinned with a reason, or deleted; a pinned
name that gains a caller (or is deleted) fails until it is unpinned.

Pure ``ast``: no Spark session, well under a second.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "nashville_etl_service_backup_spark"

# name -> SURVEY id or reason it stays although only tests call it
PINNED = {
    # sources and parsers (SURVEY §2.1)
    "ticketmaster_requests": "S1",
    "fetch_paged": "S1/S3/S4/O5 driver-side paged fetch",
    "to_dataframe": "S1 paged fetch -> createDataFrame",
    "parse_ticketmaster": "S2",
    "seatgeek_requests": "S3",
    "parse_seatgeek": "S3",
    "yelp_requests": "S4",
    "parse_yelp": "S4",
    "google_places_requests": "S5",
    "parse_google_places": "S5",
    "arcgis_requests": "S6",
    "parse_arcgis": "S7/S8",
    "apply_site_config": "S9",
    "enrich_with_details": "S10/J1",
    "read_binary_documents": "S11/S12 binaryFile scan",
    "pymupdf_decoder": "S11/S12 PDF decoder (gated: ROADMAP Dropped)",
    "extract_documents": "S11/S16 line classifier; S17 stub",
    "read_csv_events": "S13",
    "read_excel_events": "S14",
    "read_word_tables": "S15",
    "docx_decoder": "S15/S16 docx decoder (gated: ROADMAP Dropped)",
    "read_word_events": "S16",
    "make_llm_extractor": "S17 LLM client (gated: ROADMAP Dropped)",
    "extract_with_llm": "S17/§2.11 D1",
    "read_json_events": "S18",
    # sinks (SURVEY §2.2)
    "raw_zone_append": "K1",
    "write_jdbc_upsert": "K2",
    "jdbc_driver_available": "K2 JDBC driver gate",
    "export_json": "K5",
    # streaming (SURVEY §2.10) and the UDF surface (§2.11)
    "incremental_etl": "T2",
    "dedup_within_watermark": "T4",
    "stateful_dedup_stream": "T4; ROADMAP D7 applyInPandasWithState target",
    "parse_dates_pandas_udf": "§2.11 D3",
    # streaming sketch sinks, their readers and the commit log (aim 3)
    "incremental_rollup": "aim 3 streaming sink",
    "read_rollup": "aim 3 streaming sink reader",
    "forget_from_rollup": "aim 3 streaming sink",
    "compact_rollup": "aim 3 streaming sink",
    "incremental_cms": "aim 3 streaming sink",
    "read_cms": "aim 3 streaming sink reader",
    "incremental_hll": "aim 3 streaming sink",
    "read_hll": "aim 3 streaming sink reader",
    "incremental_lsh_dedup": "aim 3 streaming sink",
    "read_dedup_audit": "aim 3 streaming sink reader",
    "incremental_bloom_gate": "aim 3 streaming sink",
    "read_bloom_audit": "aim 3 streaming sink reader",
    "adopt": "aim 3 commit-log upgrade of a log-less store",
    # scalar helpers (SURVEY §1.2, §2.3, §2.5, §2.8)
    "season_label": "§1.2 season column",
    "clean_string": "P7",
    "arcgis_run_stats": "A4",
    "page_count": "A5",
    "title_case_category": "F11",
    "md5_url": "F12",
    "slug_url": "F13",
    "display_date": "F16",
    "pagination_links": "F23",
    # reference twins that tests check the query formulation against
    "ivf_assign": "reference twin of the IVF assign (ROADMAP D8)",
    "poisson_replica_count": "reference twin of poisson_rep_counts",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _public_defs() -> dict[str, str]:
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG)
        if rel.parts[0] == "queries":
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, _DEF) and not node.name.startswith("_"):
                out[node.name] = f"{rel}:{node.lineno}"
    return out


def _names_used(path: Path) -> set[str]:
    """Names the module's code refers to: Name, Attribute and
    from-import. A top-level def's own body does not use its own name,
    and an ``__init__`` re-export is not a use."""
    reexport = path.name == "__init__.py"
    used: set[str] = set()
    for top in ast.parse(path.read_text()).body:
        names = set()
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.ImportFrom) and not reexport:
                names.update(a.name for a in node.names)
        if isinstance(top, _DEF):
            names.discard(top.name)
        used |= names
    return used


def _callers() -> list[Path]:
    return [
        *PKG.rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
        *(ROOT / "graftbench").glob("*.py"),
        *(ROOT / "tools").glob("*.py"),
    ]


def test_only_pinned_defs_lack_a_caller():
    defs = _public_defs()
    used = set().union(*(_names_used(p) for p in _callers()))
    unused = {name for name in defs if name not in used}
    unpinned = sorted(f"{defs[n]} {n}" for n in unused - PINNED.keys())
    assert not unpinned, (
        "reached only by tests: wire into a caller, delete, or pin in "
        f"PINNED with its SURVEY id: {unpinned}"
    )
    stale = sorted(PINNED.keys() - unused)
    assert not stale, f"pinned but deleted or now called; unpin: {stale}"
    assert all(PINNED.values())

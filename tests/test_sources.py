"""Sources: CSV synonym normalization (S13), JSON scan (S18), rule-based
text extraction (S11/S16), LLM-stub extraction (S17), binary plumbing,
REST request builders (S1–S6 pushdown)."""

from __future__ import annotations

import json

from nashville_etl_service_backup_spark.sources.files import (
    normalize_columns,
    read_binary_documents,
    read_csv_events,
    read_json_events,
)
from nashville_etl_service_backup_spark.sources.llm_extract import extract_with_llm
from nashville_etl_service_backup_spark.sources.rest import (
    ARCGIS_DATASETS,
    arcgis_requests,
    fetch_paged,
    google_places_requests,
    seatgeek_requests,
    ticketmaster_requests,
    to_dataframe,
    yelp_requests,
)
from nashville_etl_service_backup_spark.sources.text_extract import (
    extract_documents,
    extract_events_from_text,
)

SAMPLE_TEXT = """Nashville Events Guide
Venue: The Ryman Auditorium
Address: 116 Rep. John Lewis Way N
Date: June 14, 2025
Website: https://ryman.com
Venue: Exit In
2208 Elliston Place Nashville
7/20/2025
Some descriptive line about the show
"""


def test_rule_based_extractor_state_machine():
    events = extract_events_from_text(SAMPLE_TEXT)
    assert len(events) == 2
    e1, e2 = events
    assert e1["name"] == "The Ryman Auditorium"
    assert e1["venue_address"] == "116 Rep. John Lewis Way N"
    assert e1["event_date"] == "June 14, 2025"
    assert e1["url"] == "https://ryman.com"
    assert e2["name"] == "Exit In"
    assert e2["venue_address"] == "2208 Elliston Place Nashville"
    assert e2["event_date"] == "7/20/2025"
    assert e2["url"].startswith("pdf://nashville-event/")  # F12 synthesis
    assert "descriptive line" in e2["description"]


def test_extract_documents_udtf(spark):
    docs = spark.createDataFrame(
        [(1, "/up/a.pdf", SAMPLE_TEXT), (2, "/up/b.pdf", "short")],
        "doc_id long, original_filepath string, text string",
    )
    out = extract_documents(docs)
    rows = out.collect()
    assert len(rows) == 2  # doc 2 yields nothing
    assert {r.doc_id for r in rows} == {1}
    assert rows[0].source == "pdf_upload"


def test_llm_stub_extraction_and_sentinel(spark):
    docs = spark.createDataFrame(
        [("/up/a.pdf", SAMPLE_TEXT), ("/up/empty.pdf", "")],
        "original_filepath string, text string",
    )
    out = extract_with_llm(docs).collect()
    by_path = {}
    for r in out:
        by_path.setdefault(r.original_filepath, []).append(r)
    assert len(by_path["/up/a.pdf"]) == 2
    # empty text → sentinel record (transform_data.py:369-385)
    sent = by_path["/up/empty.pdf"][0]
    assert sent.name.startswith("Failed to parse")
    assert sent.url == "file://empty.pdf#error"


def test_csv_synonym_normalization(spark, tmp_path):
    p = tmp_path / "messy.csv"
    p.write_text(
        "Title,link,venue,street,when,desc,type,lat,lng\n"
        "Food Fest,https://x/1,Park,12 Main St,2025-06-01,Yum,festival,36.1,-86.8\n"
    )
    df = read_csv_events(spark, str(p))
    row = df.collect()[0]
    assert row.name == "Food Fest"
    assert row.url == "https://x/1"
    assert row.venue_name == "Park"
    assert row.venue_address == "12 Main St"
    assert row.event_date == "2025-06-01"
    assert row.description == "Yum"
    assert row.category == "festival"
    assert float(row.latitude) == 36.1 and float(row.longitude) == -86.8


def test_json_array_and_json_lines(spark, tmp_path):
    """S18: a scraper dump loads as a JSON array or as JSON-Lines, with
    synonym headers normalized either way."""
    recs = [
        {"Title": "Food Fest", "link": "https://x/1", "venue": "Park"},
        {"Title": "Jazz Night", "link": "https://x/2", "venue": "Ryman"},
    ]
    arr = tmp_path / "array.json"
    arr.write_text(json.dumps(recs, indent=2))
    one_line = tmp_path / "one_line.json"
    one_line.write_text(json.dumps(recs))
    # `scrapy crawl X -o X.json`: '[', one object per line with a
    # trailing comma, ']'
    scrapy = tmp_path / "scrapy.json"
    scrapy.write_text("[\n" + ",\n".join(json.dumps(r) for r in recs) + "\n]")
    lines = tmp_path / "lines.json"
    lines.write_text("\n".join(json.dumps(r) for r in recs) + "\n")
    want = [("Food Fest", "https://x/1", "Park"), ("Jazz Night", "https://x/2", "Ryman")]
    for p in (arr, one_line, scrapy, lines):
        df = read_json_events(spark, str(p))
        got = sorted(
            (r.name, r.url, r.venue_name)
            for r in df.select("name", "url", "venue_name").collect()
        )
        assert got == want, p.name
        assert "_corrupt_record" not in df.columns, p.name


def test_synonym_coalesce_multiple_columns(spark):
    df = spark.createDataFrame(
        [("", "Actual Name", "u1"), ("First Name", "", "u2")],
        "name string, title string, url string",
    )
    out = normalize_columns(df)
    rows = {r.url: r.name for r in out.collect()}
    assert rows == {"u1": "Actual Name", "u2": "First Name"}


def test_binary_plumbing_with_fake_decoder(spark, tmp_path):
    (tmp_path / "doc1.bin").write_bytes(b"Venue: Test Hall\nDate: 2025-01-01\n")
    decoded = read_binary_documents(
        spark, str(tmp_path), decoder=lambda p, b: b.decode("utf-8")
    )
    events = extract_documents(decoded)
    rows = events.collect()
    assert len(rows) == 1 and rows[0].name == "Test Hall"


def test_rest_request_builders_pushdown():
    tm = list(ticketmaster_requests("KEY", "2025-01-01T00:00:00Z"))
    assert len(tm) == 5  # page cap (ticketmaster_spider.py:39)
    assert tm[0].params["dmaId"] == "343" and tm[0].params["sort"] == "date,asc"
    sg = list(seatgeek_requests("ID"))  # 10 × 50 (seatgeek_spider.py:55,22)
    assert [r.params["page"] for r in sg] == [str(p) for p in range(1, 11)]
    for r in sg:
        assert r.params["per_page"] == "50" and r.params["client_id"] == "ID"
        assert (r.params["venue.city"], r.params["venue.state"]) == ("Nashville", "TN")
    y = list(yelp_requests("KEY", "bars"))
    assert len(y) == 20 and y[-1].params["offset"] == "950"  # cap 1000
    g = list(google_places_requests("KEY"))
    assert len(g) == 6 and "X-Goog-FieldMask" in g[0].headers  # projection
    ds = ARCGIS_DATASETS[2]
    req = arcgis_requests("https://arc", ds, offset=1000)
    assert req.params["where"].startswith("FacilityType IS NOT NULL")
    assert req.params["resultOffset"] == "1000"


def test_fetch_paged_and_to_dataframe(spark):
    pages = {0: [{"name": "A", "url": "u1"}], 1: [{"name": "B", "url": "u2"}], 2: []}

    def fake_fetch(plan):
        return {"events": pages[int(plan.params["page"])]}

    recs = fetch_paged(
        ticketmaster_requests("K", "now"), fake_fetch, lambda p: p["events"]
    )
    assert [r["name"] for r in recs] == ["A", "B"]
    df = to_dataframe(spark, recs)
    assert df.count() == 2 and df.schema["name"].dataType.typeName() == "string"


def test_generic_site_config_semantics(spark):
    from nashville_etl_service_backup_spark.sources.generic import (
        apply_site_config,
    )

    df = spark.createDataFrame(
        [
            ("Show A", "/events/a", ""),        # relative url, empty venue → default
            ("Buy Tickets Show B", "/events/b", "The Spot"),  # filtered out
            (None, "https://x.com/c", "Hall"),  # null name passes filter
        ],
        "name string, url string, venue_name string",
    )
    out = apply_site_config(
        df,
        source="underdog",
        category="event",
        defaults={"venue_name": "The Underdog", "neighborhood": "East Nashville"},
        name_filter_out="Buy Tickets",
        base_url="https://theunderdognashville.com",
    )
    rows = {r["url"]: r for r in out.collect()}
    assert len(rows) == 2  # 'Buy Tickets Show B' excluded
    a = rows["https://theunderdognashville.com/events/a"]
    assert a["venue_name"] == "The Underdog"  # empty → default
    assert a["neighborhood"] == "East Nashville"  # absent column → default
    assert a["source"] == "underdog" and a["category"] == "event"
    c = rows["https://x.com/c"]
    assert c["venue_name"] == "Hall"  # extracted value wins over default


def test_detail_enrichment_join_overwrites(spark):
    from nashville_etl_service_backup_spark.sources.generic import (
        enrich_with_details,
    )

    lst = spark.createDataFrame(
        [
            ("A", "https://s/a", "list-venue"),
            ("B", "https://s/b", "list-venue-b"),
        ],
        "name string, url string, venue_name string",
    )
    details = spark.createDataFrame(
        [("https://s/a", None, "2025-01-01 19:00")],
        "url string, venue_name string, event_date string",
    )
    out = {
        r["name"]: r
        for r in enrich_with_details(
            lst, details, ["venue_name", "event_date"]
        ).collect()
    }
    # matched: detail overwrites BOTH fields — venue_name with NULL
    assert out["A"]["venue_name"] is None
    assert out["A"]["event_date"] == "2025-01-01 19:00"
    # unmatched: list values survive, absent detail field stays NULL
    assert out["B"]["venue_name"] == "list-venue-b"
    assert out["B"]["event_date"] is None


def test_excel_sheet_fallback_union(spark, tmp_path):
    import pandas as pd
    from nashville_etl_service_backup_spark.sources.files import (
        read_excel_events,
    )

    f = tmp_path / "wb.xlsx"
    f.write_bytes(b"fake-workbook-bytes")

    sheet0 = pd.DataFrame({"Notes": ["junk"], "Misc": ["x"]})  # no name col
    sheet1 = pd.DataFrame({"Event_Name": ["Spring Gala"], "venue": ["Hall A"]})
    sheet2 = pd.DataFrame({"title": ["12"], "venue": ["B"]})  # name too short

    def loader(content):
        assert content == b"fake-workbook-bytes"
        return [("Sheet1", sheet0), ("Sheet2", sheet1), ("Sheet3", sheet2)]

    rows = read_excel_events(spark, str(tmp_path), loader, glob="*.xlsx").collect()
    # sheet0 yields nothing → fallback unions all sheets; only the valid
    # name survives P6
    assert len(rows) == 1
    assert rows[0]["name"] == "Spring Gala"
    assert rows[0]["venue_name"] == "Hall A"


def test_excel_first_sheet_wins_when_valid(spark, tmp_path):
    import pandas as pd
    from nashville_etl_service_backup_spark.sources.files import (
        read_excel_events,
    )

    f = tmp_path / "wb2.xlsx"
    f.write_bytes(b"wb2")
    s0 = pd.DataFrame({"name": ["First Sheet Event"]})
    s1 = pd.DataFrame({"name": ["Should Not Appear"]})
    rows = read_excel_events(
        spark, str(tmp_path), lambda c: [("a", s0), ("b", s1)], glob="*.xlsx"
    ).collect()
    assert [r["name"] for r in rows] == ["First Sheet Event"]


def test_word_tables_to_items(spark, tmp_path):
    from nashville_etl_service_backup_spark.sources.files import (
        read_word_tables,
    )

    (tmp_path / "doc.docx").write_bytes(b"fake-docx")

    def loader(content):
        return [
            [["Event", "Location"], ["Art Walk", "5th Ave"], ["99", "x"]],
            [["header-only"]],
            [["title", "address"], ["Food Fest", "Main St"]],
        ]

    rows = read_word_tables(spark, str(tmp_path), loader, glob="*.docx").collect()
    got = {r["name"]: r for r in rows}
    # '99' fails the has-alpha gate; header-only table skipped
    assert set(got) == {"Art Walk", "Food Fest"}
    assert got["Art Walk"]["venue_name"] == "5th Ave"  # 'location' synonym
    assert got["Food Fest"]["venue_address"] == "Main St"  # 'address' synonym


def test_word_events_paragraph_fallback(spark, tmp_path):
    """S16 fallback (document_spider.py:160-184): tables first; a doc
    whose tables yield nothing falls back to the paragraph-text line
    classifier."""
    from nashville_etl_service_backup_spark.sources.files import (
        read_word_events,
    )

    (tmp_path / "tbl.docx").write_bytes(b"doc-with-table")
    (tmp_path / "txt.docx").write_bytes(b"doc-with-text-only")

    def tables_loader(content):
        if content == b"doc-with-table":
            return [[["Event", "Location"], ["Art Walk", "5th Ave"]]]
        return []  # no tables -> paragraph fallback

    def paragraphs_loader(content):
        return [
            "Name: Jazz Night",
            "Venue: Blue Room",
            "Date: 2024-05-01",
            "A smooth evening of live jazz downtown.",
        ]

    rows = read_word_events(
        spark, str(tmp_path), tables_loader, paragraphs_loader, glob="*.docx"
    ).collect()
    got = {r["name"]: r for r in rows}
    assert set(got) == {"Art Walk", "Jazz Night"}
    assert got["Art Walk"]["venue_name"] == "5th Ave"
    assert got["Jazz Night"]["venue_name"] == "Blue Room"
    assert got["Jazz Night"]["event_date"] == "2024-05-01"


def test_frame_to_items_column_order_wins(spark):
    """Reference _normalize_dataframe_columns picks ONE source column
    per canonical field by dataframe column order — a row whose chosen
    column is empty does NOT fall through to the other synonym column."""
    import pandas as pd

    from nashville_etl_service_backup_spark.sources.files import (
        _frame_to_items,
    )

    pdf = pd.DataFrame(
        {
            "location": ["Leftmost Hall", None],
            "venue": ["Ignored Hall", "Also Ignored"],
            "name": ["Show A", "Show B"],
        }
    )
    items = _frame_to_items(pdf)
    assert items[0]["venue_name"] == "Leftmost Hall"
    # row 2's 'location' is empty; the reference leaves the field unset
    # rather than reading the 'venue' column
    assert "venue_name" not in items[1]

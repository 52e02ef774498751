"""Seeded input generator for the graftbench workloads.

Writes, under ``--out``:

- ``raw_base.parquet``    multi-source raw zone (id, source_spider, raw_json)
                          in the reference's spider shapes; every pair of
                          rows sharing a url is byte-identical, so the
                          within-batch dedup result is well defined;
- ``raw_batch_<k>.parquet`` incremental raw batches whose urls overlap the
                          base zone by a fixed share (with freshly drawn
                          fields, so keep-the-existing-row is checkable);
- ``documents.parquet``   corpus in the sf0.1 ``documents`` schema with
                          fixed shares of short, PII, repetitive,
                          non-English and near-duplicate documents;
- ``schedule.json``       the fixed page-view schedule.

Same seed, same bytes. The page-view schedule is drawn from a constant
seed on purpose: a schedule redrawn per seed moves page latency by more
than any bound we could set (see README, design rule 3).

Usage: python3 graftbench/gen.py --seed 7 --out gb-inputs --workload refresh_load
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCHEDULE_SEED = 20250601

# sizes per workload; the shares are the same everywhere
SIZES = {
    "refresh_load": {"base_rows": 30_000, "batches": 2, "batch_rows": 6_000, "docs": 0},
    "corpus_curation": {"base_rows": 0, "batches": 0, "batch_rows": 0, "docs": 2_000},
}
# share of raw rows that are the second copy of a pair (within-batch duplicates)
DUP_SHARE = 0.5
# share of an incremental batch's pairs whose url is already in the base zone
BATCH_OVERLAP = 0.5
# documents: share per kind; the rest are clean English documents
DOC_SHARES = {"short": 0.10, "pii": 0.10, "repetitive": 0.10, "non_english": 0.20, "near_dup": 0.15}

SPIDERS = ["ticketmaster", "seatgeek", "yelp", "google_places", "nashville_arcgis", "underdog"]
DESCRIPTIONS = ["rock fest tonight", "comedy showcase", "broadway play", "big game day", "quiet evening jazz"]
RAW_CATEGORIES = [None, "rock concert", "food fair", "family fun"]
# name/street words carry none of the categorizer's keywords (checked below),
# so a row's category depends only on its description, as in the oracle
NAME_A = ["Amber", "Brisk", "Cedar", "Dusty", "Early", "Fable", "Golden", "Hidden", "Ivory", "Jolly",
          "Keen", "Lunar", "Maple", "Noble", "Olive", "Prairie", "Quiet", "Royal", "Silver", "Tidal",
          "Urban", "Velvet", "Willow", "Zephyr"]
NAME_B = ["Harbor", "Lantern", "Meadow", "Orchard", "Parade", "Quarry", "Ridge", "Summit", "Bridge",
          "Canyon", "Delta", "Ember", "Forge", "Garden", "Haven", "Island", "Junction", "Kettle",
          "Landing", "Mill", "Nook", "Outpost", "Pier", "Square"]
STREETS = ["Broad", "Church", "Demonbreun", "Division", "Elm", "Gallatin", "Charlotte", "Granny",
           "Hermitage", "Jefferson", "Lafayette", "Main", "Nolensville", "Shelby", "Woodland", "Belmont"]
_KEYWORDS = ["fest", "comedy", "comedian", "stand-up", "standup", "theater", "theatre", "play",
             "musical", "broadway", "game", "match", "tournament", "sports", "country", "honky",
             "twang", "bluegrass", "americana", "rock", "punk", "metal", "alternative", "jazz",
             "swing", "bebop", "blues", "r&b", "electronic", "edm", "house", "techno", "dubstep",
             "hip", "rap", "folk", "acoustic", "singer", "pop", "top", "classical", "orchestra",
             "symphony", "venue", "hall"]
assert not any(k in w.lower() for w in NAME_A + NAME_B + STREETS for k in _KEYWORDS)

SOURCES = ["Ticketmaster", "SeatGeek", "Yelp", "Google Places", "Nashville ArcGIS", "Underdog Venue"]
CATEGORIES = ["Rock Concert", "Food Fair", "Family Fun", "Event", "Business", "Attraction",
              "Civic Facility", "festival", "comedy", "theater", "sports", "music"]


def _raw_rows(rng: np.random.Generator, pairs: np.ndarray) -> list[tuple[str, str]]:
    """(source_spider, raw_json) for each pair id; every field is drawn once
    per pair, so both copies of a pair serialize identically."""
    n = len(pairs)
    spider = rng.integers(0, 6, n)
    a, b = rng.integers(0, len(NAME_A), n), rng.integers(0, len(NAME_B), n)
    desc = rng.integers(0, 5, n)
    venue_null = rng.integers(0, 7, n) == 0
    venue_k = rng.integers(0, 50, n)
    addr_n, street = rng.integers(1, 1000, n), rng.integers(0, len(STREETS), n)
    day, hour = rng.integers(1, 29, n), rng.integers(0, 24, n)
    cat = rng.integers(0, 4, n)
    geo_bad = rng.integers(0, 5, n) == 0
    lat, lng = rng.integers(0, 10_000, n), rng.integers(0, 10_000, n)
    price_kind, price_n = rng.integers(0, 4, n), rng.integers(5, 120, n)
    out = []
    for i, p in enumerate(pairs.tolist()):
        sp = SPIDERS[spider[i]]
        item = {
            "name": f"{NAME_A[a[i]]} {NAME_B[b[i]]} {p}",
            "url": f"https://ex.com/e/{p}",
            "description": DESCRIPTIONS[desc[i]],
            "venue_address": f"{addr_n[i]} {STREETS[street[i]]} Ave",
        }
        if not venue_null[i]:
            item["venue_name"] = f"Venue {venue_k[i]}"
        if sp in ("ticketmaster", "seatgeek"):
            item["event_date"] = f"2025-06-{day[i]:02d} {hour[i]:02d}:30:00"
        elif sp == "underdog":
            item["event_date"] = f"June {day[i]}, 2025 | 7:30PM CDT"
        if RAW_CATEGORIES[cat[i]] is not None:
            item["category"] = RAW_CATEGORIES[cat[i]]
        if geo_bad[i]:
            item["latitude"], item["longitude"] = "not-a-number", ""
        else:
            item["latitude"], item["longitude"] = f"36.{lat[i]:04d}", f"-86.{lng[i]:04d}"
        if price_kind[i] == 0:
            item["price"] = "FREE"
        elif price_kind[i] == 1:
            item["price"] = f"${price_n[i]}"
        elif price_kind[i] == 2:
            item["price"] = f"{price_n[i]}.5"
        out.append((sp, json.dumps(item, sort_keys=True)))
    return out


def _write_raw(rng: np.random.Generator, pairs: np.ndarray, n_rows: int, path: str) -> None:
    """n_rows raw rows: every pair once, DUP_SHARE of the rows a second copy,
    in a seeded order so copies are not adjacent."""
    n_dup = n_rows - len(pairs)
    rows = _raw_rows(rng, pairs)
    rows = rows + [rows[i] for i in rng.choice(len(rows), n_dup, replace=False).tolist()]
    order = rng.permutation(len(rows))
    pq.write_table(
        pa.table({
            "id": pa.array(np.arange(len(rows), dtype=np.int64)),
            "source_spider": [rows[i][0] for i in order],
            "raw_json": [rows[i][1] for i in order],
        }),
        path,
    )


def gen_raw(seed: int, out: str, base_rows: int, batches: int, batch_rows: int) -> None:
    rng = np.random.default_rng([seed, 1])
    n_base = round(base_rows * (1 - DUP_SHARE))
    # pair ids are drawn from a wide seeded range, so urls differ per seed
    ids = rng.choice(10_000_000, n_base + batches * batch_rows, replace=False)
    base = ids[:n_base]
    _write_raw(rng, base, base_rows, os.path.join(out, "raw_base.parquet"))
    fresh = ids[n_base:]
    per_batch = round(batch_rows * (1 - DUP_SHARE))
    n_old = round(per_batch * BATCH_OVERLAP)
    for k in range(batches):
        # overlapping urls get freshly drawn fields: the sink must keep the
        # row it already holds, which the refresh oracle checks
        old = rng.choice(base, n_old, replace=False)
        new = fresh[k * (per_batch - n_old):(k + 1) * (per_batch - n_old)]
        _write_raw(rng, np.concatenate([old, new]), batch_rows,
                   os.path.join(out, f"raw_batch_{k}.parquet"))


# a fixed pseudo-word vocabulary: no entry collides with any stopword list
_SYL = ["ba", "ko", "ri", "ten", "mu", "sa", "vel", "do", "qui", "lor", "pen", "zi", "ga", "mo", "ter", "nu"]
VOCAB = [a + b + c for a in _SYL for b in _SYL[:5] for c in ("n", "r", "s", "l", "x")]
STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "que", "y", "los"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "les", "et", "est"],
}


def _words(rng: np.random.Generator, n: int, lang: str) -> list[str]:
    words = [VOCAB[i] for i in rng.integers(0, len(VOCAB), n).tolist()]
    stop = STOPWORDS[lang]
    for i in rng.choice(n, max(2, n // 12), replace=False).tolist():
        words[i] = stop[int(rng.integers(0, len(stop)))]
    return words


def _pii(rng: np.random.Generator) -> str:
    k = int(rng.integers(0, 4))
    n = int(rng.integers(1000, 9999))
    return [f"user{n}@example.com", f"615-555-{n}", f"{n % 900 + 100}-45-{n}",
            f"10.0.{n % 250}.{n % 199}"][k]


def gen_documents(seed: int, out: str, n_docs: int) -> None:
    rng = np.random.default_rng([seed, 2])
    kinds = []
    for kind, share in DOC_SHARES.items():
        kinds += [kind] * round(n_docs * share)
    kinds += ["clean"] * (n_docs - len(kinds))
    kinds = [kinds[i] for i in rng.permutation(n_docs).tolist()]
    texts, langs = [None] * n_docs, ["en"] * n_docs
    clean = [i for i, k in enumerate(kinds) if k == "clean"]
    for i, kind in enumerate(kinds):
        if kind in ("clean", "pii"):
            w = _words(rng, int(rng.integers(40, 120)), "en")
            if kind == "pii":
                w.insert(int(rng.integers(0, len(w))), _pii(rng))
            texts[i] = " ".join(w)
        elif kind == "short":
            texts[i] = " ".join(_words(rng, int(rng.integers(5, 16)), "en"))
        elif kind == "repetitive":
            line = " ".join(_words(rng, 8, "en"))
            lines = [line] * 4 + [" ".join(_words(rng, 8, "en")) for _ in range(2)]
            texts[i] = "\n".join(lines[j] for j in rng.permutation(6).tolist())
        elif kind == "non_english":
            langs[i] = ["es", "de", "fr"][int(rng.integers(0, 3))]
            texts[i] = " ".join(_words(rng, int(rng.integers(40, 120)), langs[i]))
    for i, kind in enumerate(kinds):
        if kind == "near_dup":
            # a copy of a clean document with 1-3 word substitutions: bigram
            # Jaccard stays above the 0.6 LSH threshold
            w = texts[clean[int(rng.integers(0, len(clean)))]].split(" ")
            for j in rng.choice(len(w), int(rng.integers(1, 4)), replace=False).tolist():
                w[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(w)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }),
        os.path.join(out, "documents.parquet"),
    )


def gen_schedule() -> list[dict]:
    """The fixed page views of refresh_load, one of each kind in
    turn: browse order, source filter, category filter, 1-3-term search,
    on pages 1-8. The cycles of a run view them in a fixed rotation, so
    the page mix is the same in every run."""
    rng = np.random.default_rng(SCHEDULE_SEED)
    terms = [w.lower() for w in NAME_A + NAME_B + STREETS] + ["jazz", "comedy", "ave", "venue"]
    shapes = []
    for kind in range(4):
        s = {"source": None, "category": None, "search": None, "page": int(rng.integers(1, 9))}
        if kind == 1:
            s["source"] = SOURCES[int(rng.integers(0, len(SOURCES)))]
        elif kind == 2:
            s["category"] = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        elif kind == 3:
            n_terms = int(rng.integers(1, 4))
            s["search"] = " ".join(terms[j] for j in rng.choice(len(terms), n_terms, replace=False).tolist())
            # a search narrows the result: keep it on its first pages
            s["page"] = 1 + s["page"] % 2
        shapes.append(s)
    return shapes


def generate(workload: str, seed: int, out: str) -> dict:
    """Write every input ``workload`` needs under ``out``; returns the sizes."""
    os.makedirs(out, exist_ok=True)
    size = SIZES[workload]
    if size["base_rows"]:
        gen_raw(seed, out, size["base_rows"], size["batches"], size["batch_rows"])
    if size["docs"]:
        gen_documents(seed, out, size["docs"])
    with open(os.path.join(out, "schedule.json"), "w") as f:
        json.dump(gen_schedule(), f)
    return size


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(SIZES), required=True)
    args = ap.parse_args()
    print(json.dumps(generate(args.workload, args.seed, args.out)))


if __name__ == "__main__":
    main()

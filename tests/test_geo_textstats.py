"""Geo helpers (centroid, range validation, CRS approx) and text-analysis
operators (lang id, quality, token counts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nashville_etl_service_backup_spark.functions.geo import (
    ring_centroid,
    state_plane_to_wgs84_approx,
    validate_coords,
)
from nashville_etl_service_backup_spark.operators.text_analysis import (
    bpe_token_count,
    language_id,
    quality_features,
    ws_token_count,
)


def test_ring_centroid(spark):
    df = spark.createDataFrame(
        [([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]],)],
        "ring array<array<double>>",
    )
    c = df.select(ring_centroid(F.col("ring")).alias("c")).collect()[0].c
    assert (c.x, c.y) == (1.0, 1.0)


def test_validate_coords(spark):
    df = spark.createDataFrame(
        [(36.16, -86.78), (40.0, -86.78), (36.16, -80.0)], "lat double, lng double"
    )
    la, ln = validate_coords(F.col("lat"), F.col("lng"))
    got = df.select(la.alias("a"), ln.alias("b")).collect()
    assert (got[0].a, got[0].b) == (36.16, -86.78)
    assert got[1].a is None and got[1].b is None  # lat out of range
    assert got[2].a is None and got[2].b is None  # lng out of range


def test_state_plane_approx_near_nashville(spark):
    # downtown Nashville is ~ (1.74e6, 6.66e5) ft in EPSG:2274
    df = spark.createDataFrame([(1738000.0, 665000.0)], "x double, y double")
    lat, lng = state_plane_to_wgs84_approx(F.col("x"), F.col("y"))
    r = df.select(lat.alias("lat"), lng.alias("lng")).collect()[0]
    assert 35.0 < r.lat < 37.0 and -88.0 < r.lng < -85.0


def test_language_id(spark):
    df = spark.createDataFrame(
        [("the cat and the dog in a house",),
         ("el perro y la casa de los gatos",),
         ("zzz qqq xxx",)],
        "text string",
    )
    got = [r.p for r in df.select(language_id(F.col("text")).alias("p")).collect()]
    assert got == ["en", "es", "und"]


def test_quality_features(spark):
    df = spark.createDataFrame([("the the the",), ("alpha beta gamma",)], "text string")
    qf = quality_features(F.col("text"))
    rows = df.select(
        qf["n_tokens"].alias("n"), qf["n_unique"].alias("u"),
        qf["stop_ratio"].alias("s"), qf["quality"].alias("q"),
    ).collect()
    assert (rows[0].n, rows[0].u, rows[0].s) == (3, 1, 1.0)
    assert (rows[1].n, rows[1].u, rows[1].s) == (3, 3, 0.0)
    assert rows[1].q > rows[0].q  # diverse, stopword-free text scores higher


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello world, it's 2024!",)], "text string")
    r = df.select(
        ws_token_count(F.col("text")).alias("ws"),
        bpe_token_count(F.col("text")).alias("bpe"),
    ).collect()[0]
    # ws: hello world it s 2024 → 5
    assert r.ws == 5
    # bpe: hello, world, ',', it, ''', s, 2024, '!' → 8
    assert r.bpe == 8


def test_hash_bucket_stable_and_in_range(spark):
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        hash_bucket,
        split_assign,
    )
    from pyspark.sql import functions as F

    df = spark.range(1000).select(F.col("id"))
    b = df.select(hash_bucket(F.col("id")).alias("b"), split_assign(F.col("id")).alias("s"))
    rows = b.collect()
    assert all(0 <= r["b"] < 100 for r in rows)
    # split fractions roughly 90/5/5
    from collections import Counter

    c = Counter(r["s"] for r in rows)
    assert c["train"] > 800 and c["val"] > 10 and c["test"] > 10
    # stability: same ids, different partitioning → same assignment
    again = dict(
        df.repartition(7)
        .select("id", split_assign(F.col("id")).alias("s"))
        .collect()
    )
    first = dict(df.select("id", split_assign(F.col("id")).alias("s")).collect())
    assert first == again


def test_zscore_by_group_moments(spark):
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        zscore_by_group,
    )

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 30), (4, "b", 5)],
        "doc_id long, lang string, nt long",
    )
    out = {r["doc_id"]: r["z"] for r in zscore_by_group(df, "lang", "nt", "doc_id").collect()}
    assert out[2] == 0.0  # at the mean
    assert abs(out[1] + 1.0) < 1e-9 and abs(out[3] - 1.0) < 1e-9  # ±1 sd
    assert out[4] is None  # singleton group


def test_pii_redact_and_counts(spark):
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        pii_counts,
        pii_redact,
    )

    df = spark.createDataFrame(
        [
            (
                1,
                "mail bob.smith+x@example.co.uk or call (615) 555-1234, "
                "ssn 123-45-6789, host 10.0.255.7 end",
            ),
            (2, "clean text with no pii at all"),
        ],
        "id long, text string",
    )
    out = df.select(
        "id",
        pii_redact(F.col("text")).alias("red"),
        *[c.alias(k) for k, c in pii_counts(F.col("text")).items()],
    ).collect()
    r1 = next(r for r in out if r["id"] == 1)
    assert "<EMAIL>" in r1["red"] and "example" not in r1["red"]
    # the parenthesized area code must be consumed whole — the pre-fix
    # \b\(? pattern left "(<PHONE>" (\b cannot anchor before '(')
    assert "call <PHONE>," in r1["red"] and "555-1234" not in r1["red"]
    assert "(<PHONE>" not in r1["red"]
    assert "<SSN>" in r1["red"] and "123-45-6789" not in r1["red"]
    assert "<IP>" in r1["red"] and "10.0.255.7" not in r1["red"]
    assert (r1["n_email"], r1["n_ssn"], r1["n_phone"], r1["n_ipv4"]) == (1, 1, 1, 1)
    r2 = next(r for r in out if r["id"] == 2)
    assert r2["red"] == "clean text with no pii at all"
    assert (r2["n_email"], r2["n_ssn"], r2["n_phone"], r2["n_ipv4"]) == (0, 0, 0, 0)


def test_repetition_features_planted(spark):
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        repetition_features,
    )

    loopy = "click here click here click here click here"
    boiler = "menu\nmenu\nmenu\nabout us"
    wall = "x\n" + ("y" * 98)
    df = spark.createDataFrame(
        [(1, loopy), (2, boiler), (3, wall)], "id long, text string"
    )
    feats = repetition_features(F.col("text"))
    rows = {
        r["id"]: r
        for r in df.select(
            "id", *[c.alias(k) for k, c in feats.items()]
        ).collect()
    }
    # 7 bigrams, 'click here' appears 4 times
    assert abs(rows[1]["top_bigram_frac"] - 4 / 7) < 1e-6
    # 4 lines, 2 distinct -> dup fraction 0.5
    assert abs(rows[2]["dup_line_frac"] - 0.5) < 1e-6
    # 99 chars total, longest line 98
    assert abs(rows[3]["max_line_frac"] - 98 / 99) < 1e-6


def test_pack_offsets_chunk_semantics(spark):
    """Concatenate-then-chunk: a doc's pack is the window holding its
    first token; packs advance when the running offset crosses the
    budget."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        pack_offsets,
    )

    docs = spark.createDataFrame(
        [(i, "w " * 30) for i in range(20)], "doc_id long, text string"
    )  # every doc = 30 tokens
    out = pack_offsets(docs, "doc_id", "text", budget=100, n_streams=1).collect()
    by_id = {r["doc_id"]: r for r in out}
    # single stream: offsets are 0,30,60,... pack boundaries at 100
    for i in range(20):
        assert by_id[i]["start_offset"] == 30 * i
        assert by_id[i]["pack_id"] == (30 * i) // 100


def test_contamination_matches_planted(spark):
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        contamination_matches,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),  # eval
            (1, "a very quick brown fox jumps again today"),      # shares 4-grams
            (2, "completely unrelated text about databases here"),
            (3, "the quick brown fox appears here too"),          # shares 1
        ],
        "doc_id long, text string",
    )
    hits = {
        r["doc_id"]: r["n_shared_grams"]
        for r in contamination_matches(
            docs, "doc_id", "text", F.col("doc_id") == 0, n=4
        ).collect()
    }
    assert 2 not in hits
    assert hits[3] == 1  # 'the quick brown fox'
    assert hits[1] == 1  # 'quick brown fox jumps'


def _repetition_reference(t):
    """Pure-Python repetition signals: exact integer counts, then the
    fractions rounded half-up to 6 places as Spark rounds a double."""
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    t = t or ""
    # F.trim strips 0x20 only; normalize_text = lower, [^a-z0-9]+ -> ' ',
    # trim
    lines = [ln.strip(" ") for ln in t.split("\n")]
    lines = [ln for ln in lines if ln]
    norm = re.sub(r"[^a-z0-9]+", " ", t.lower()).strip(" ")
    toks = norm.split(" ") if norm else []
    grams = [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]
    total_chars = sum(len(ln) for ln in lines)

    def r6(x):
        q = Decimal(repr(float(x))).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        return float(q)

    return {
        "dup_line_frac": r6(1.0 - len(set(lines)) / len(lines)) if lines else 0.0,
        "top_bigram_frac": (
            r6(max(Counter(grams).values()) / len(grams)) if grams else 0.0
        ),
        "max_line_frac": (
            r6(max(len(ln) for ln in lines) / total_chars) if total_chars else 0.0
        ),
    }


def test_repetition_features_match_python_reference(spark):
    """The built-in-expression repetition signals equal a pure-Python
    count on every sf0.001 document and on edge cases. The two-token
    case has one bigram, where a 1-based lookup of the previous element
    would hit element_at(arr, 0), which raises under ANSI."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        repetition_features,
    )
    from nashville_etl_service_backup_spark.tables import load

    edge = [
        None,
        "",
        "   \n \n\n  ",
        "hello",
        "hello world",
        "a\tb\r\nc  d\r\n\ta\tb",
        "x y\nx y\n  x y  \nz",
        "a b a b a b c",
        "b a\nb a\nb a",
    ]
    edge_df = spark.createDataFrame(
        [(-1 - i, t) for i, t in enumerate(edge)], "doc_id long, text string"
    )
    docs = load(spark, "/root/testdata/sf0.001", "documents")
    feats = repetition_features(F.col("text"))
    out = (
        docs.select("doc_id", "text")
        .unionByName(edge_df)
        .select("doc_id", "text", *[c.alias(k) for k, c in feats.items()])
        .collect()
    )
    assert len(out) > len(edge)
    for r in out:
        want = _repetition_reference(r["text"])
        got = {k: r[k] for k in want}
        assert got == want, (r["doc_id"], r["text"], got, want)


def test_corpus_lm_scores_hand_computed(spark):
    """Two symmetric docs share trigram 'aaa' (c=2) and own one unique
    trigram each (c=1), total T=4: score = (ln2)/2 − ln4 = −1.039721
    for both. A doc under 3 normalized chars yields no grams and is
    absent."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        corpus_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "aaab"), (2, "aaac"), (3, "ab")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: (r["n_grams"], r["lm_score"])
        for r in corpus_lm_scores(docs).collect()
    }
    assert rows == {1: (2, -1.039721), 2: (2, -1.039721)}


def test_strip_boilerplate_lines(spark):
    """Lines shared by ≥3 distinct docs vanish everywhere; a doc that
    was all boilerplate fingerprints as md5('')."""
    import hashlib

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        strip_boilerplate_lines,
    )

    docs = spark.createDataFrame(
        [
            (1, "NAV MENU\nunique one\n  footer  "),
            (2, "NAV MENU\nunique two\nfooter"),
            (3, "NAV MENU\nunique three\nfooter"),
            (4, "all original\nlines here"),
            (5, "NAV MENU\nfooter"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_lines"], r["n_removed"], r["cleaned_md5"])
        for r in strip_boilerplate_lines(docs, min_docs=3).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1] == (3, 2, md5("unique one"))
    assert out[2] == (3, 2, md5("unique two"))
    assert out[4] == (2, 0, md5("all original\nlines here"))
    assert out[5] == (2, 2, md5(""))


def test_text_length_histogram_buckets(spark, tmp_path):
    """Power-of-2 bucketing + integer padding-waste accounting."""
    import os

    from nashville_etl_service_backup_spark.queries.llmdata import (
        text_length_histogram,
    )

    df = spark.createDataFrame(
        [
            (1, "one two three", "en", "s", 13),        # 3 bpe tokens  -> 32
            (2, " ".join(["tok"] * 40), "en", "s", 160),  # 40 tokens   -> 64
            (3, " ".join(["tok"] * 60), "en", "s", 240),  # 60 tokens   -> 64
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = {
        r["seq_bucket"]: (r["n_docs"], r["sum_tokens"], r["padding_waste"])
        for r in text_length_histogram(spark, str(tmp_path)).collect()
    }
    assert out[32] == (1, 3, 29)
    assert out[64] == (2, 100, 28)  # 2*64 - (40+60)


def test_llm_corpus_curation_composition(spark):
    """The end-to-end curation query: output shape, split domain, and
    token totals consistent with a per-doc recount."""
    from nashville_etl_service_backup_spark.queries.llmdata import (
        llm_corpus_curation,
    )

    out = llm_corpus_curation(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert out.columns == ["split", "lang", "n_docs", "n_tokens"]
    assert {r["split"] for r in rows} <= {"train", "val", "test"}
    assert all(r["n_docs"] > 0 and r["n_tokens"] > 0 for r in rows)
    # curation keeps a strict subset of the corpus
    from nashville_etl_service_backup_spark.tables import load

    total = load(spark, "/root/testdata/sf0.001", "documents").count()
    assert 0 < sum(r["n_docs"] for r in rows) < total


def test_chunk_token_windows(spark):
    """64/48 windows: a 100-token doc yields chunks at starts 0,48,96 —
    sizes 64, 52, 4; a 3-token doc yields one short chunk; empty text
    yields none."""
    import hashlib

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        chunk_token_windows,
    )

    toks = [f"t{i}" for i in range(100)]
    docs = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_token_windows(docs, window=64, stride=48).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["n_chunk_tokens"], r["chunk_md5"])
        )
    d1 = sorted(by_doc[1])
    assert [(i, n) for i, n, _ in d1] == [(0, 64), (1, 52), (2, 4)]
    assert d1[0][2] == hashlib.md5(" ".join(toks[0:64]).encode()).hexdigest()
    assert d1[2][2] == hashlib.md5(" ".join(toks[96:100]).encode()).hexdigest()
    assert by_doc[2] == [(0, 3, hashlib.md5(b"a b c").hexdigest())]
    assert 3 not in by_doc


def test_domain_cap_semantics(spark):
    """The cap keeps min(n_docs, 30) per source, and the kept token mass
    equals the sum over the 30 highest-quality docs (doc_id tiebreak)."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        quality_features,
    )
    from nashville_etl_service_backup_spark.queries.llmdata import (
        DOMAIN_CAP,
        text_domain_cap,
    )
    from nashville_etl_service_backup_spark.tables import load

    sf = "/root/testdata/sf0.001"
    rows = {r["source"]: r for r in text_domain_cap(spark, sf).collect()}
    qf = quality_features(F.col("text"))
    scored = (
        load(spark, sf, "documents")
        .select("doc_id", "source", qf["quality"].alias("q"), qf["n_tokens"].alias("nt"))
        .collect()
    )
    by_src = {}
    for r in scored:
        by_src.setdefault(r["source"], []).append(r)
    assert rows.keys() == by_src.keys()
    for src, docs in by_src.items():
        got = rows[src]
        assert got["n_docs"] == len(docs)
        assert got["n_kept"] == min(len(docs), DOMAIN_CAP)
        top = sorted(docs, key=lambda r: (-r["q"], r["doc_id"]))[:DOMAIN_CAP]
        assert got["kept_tokens"] == sum(r["nt"] for r in top)
        assert got["total_tokens"] == sum(r["nt"] for r in docs)


def test_shard_plan_partition_invariant_and_order_sensitive(spark):
    """The shard plan is identical whatever the input partitioning, and
    the order checksum detects a dropped document (membership AND order
    are pinned, not just counts)."""
    from nashville_etl_service_backup_spark.queries.llmdata import text_shard_plan
    from nashville_etl_service_backup_spark.tables import load

    sf = "/root/testdata/sf0.001"
    base = {r["shard"]: r.asDict() for r in text_shard_plan(spark, sf).collect()}

    import nashville_etl_service_backup_spark.queries.llmdata as L
    import nashville_etl_service_backup_spark.tables as T

    orig = T.load

    def load_repart(spark_, sf_, name):
        df = orig(spark_, sf_, name)
        return df.repartition(7) if name == "documents" else df

    L.load, T.load = load_repart, T.load
    try:
        again = {
            r["shard"]: r.asDict() for r in text_shard_plan(spark, sf).collect()
        }
    finally:
        L.load = orig
    assert base == again

    def load_drop(spark_, sf_, name):
        df = orig(spark_, sf_, name)
        if name == "documents":
            df = df.filter(F.col("doc_id") != 17)
        return df

    L.load = load_drop
    try:
        dropped = {
            r["shard"]: r.asDict() for r in text_shard_plan(spark, sf).collect()
        }
    finally:
        L.load = orig
    changed = [s for s in base if base[s] != dropped.get(s)]
    assert changed, "dropping a doc must flip at least one shard row"
    for s in changed:
        assert base[s]["order_checksum"] != dropped[s]["order_checksum"] or (
            base[s]["n_docs"] != dropped[s]["n_docs"]
        )


def test_bpe_train_matches_reference_implementation(spark):
    """The distributed trainer must learn the same merge sequence as a
    straightforward single-process BPE over the same word histogram
    (greedy most-frequent pair, lexicographic tiebreak, left-to-right
    merge application)."""
    import re
    from collections import Counter

    from nashville_etl_service_backup_spark.operators.text_analysis import bpe_train

    texts = [
        "the theme there is the theater",
        "she sells sea shells by the sea shore",
        "the these theses 123 1234",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")

    hist = Counter()
    for t in texts:
        hist.update(re.sub(r"[^a-z0-9]+", " ", t.lower()).split())

    expected = []
    state = {w: list(w) for w in hist}
    for step in range(6):
        pc = Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += hist[w]
        (l, r), fq = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, l, r, fq))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out

    got = [
        (r["step"], r["lhs"], r["rhs"], r["freq"])
        for r in bpe_train(docs, n_merges=6).collect()
    ]
    assert got == expected
    vocab_sizes = [r["vocab_size"] for r in bpe_train(docs, n_merges=6).collect()]
    final_syms = {s for syms in state.values() for s in syms}
    assert vocab_sizes[-1] == len(final_syms)


def test_bpe_merge_application_handles_consecutive_pairs(spark):
    """Fixpoint-repeated replace must merge CONSECUTIVE occurrences of
    a pair — 'banana' + (a,n) is the canonical trap: a single
    replace-all consumes the shared sentinel and leaves [b,an,a,n,a]."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bpe_segment_counts,
    )

    docs = spark.createDataFrame(
        [(0, "banana"), (1, "anananan"), (2, "aaaa"), (3, "queue")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_segment_counts(
            docs, "doc_id", "text", [("a", "n")]
        ).collect()
    }
    # banana -> b an an a (4); anananan -> an an an an (4);
    # aaaa untouched by (a,n) (4); queue untouched (5)
    assert got == {0: (1, 4), 1: (1, 4), 2: (1, 4), 3: (1, 5)}

    got2 = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_segment_counts(
            docs, "doc_id", "text", [("a", "a"), ("aa", "aa")]
        ).collect()
    }
    # aaaa -> aa aa -> aaaa (1): even self-run converges exactly
    assert got2[2] == 1


def test_bpe_segment_counts_matches_reference(spark):
    """Rank-ordered merge application must equal the canonical greedy
    per-word loop (lowest rank first, left-to-right) on l != r merges."""
    import re

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bpe_segment_counts,
    )

    merges = [("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"), ("in", "g")]
    texts = [
        "the theme is banana bread",
        "singing in the rain brings things",
        "900 thin pythons amid the anthem",
    ]

    def encode_word(w):
        syms = list(w)
        for l, r in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    expected = {}
    for d, t in enumerate(texts):
        words = re.sub(r"[^a-z0-9]+", " ", t.lower()).split()
        n_bpe = sum(len(encode_word(w)) for w in words)
        expected[d] = (len(words), n_bpe)

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_segment_counts(docs, "doc_id", "text", merges).collect()
    }
    assert got == expected


def test_duplicated_span_stats(spark):
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        duplicated_span_stats,
    )

    shared = "one two three four five"
    docs = spark.createDataFrame(
        [
            (0, shared + " alpha beta"),          # 3 grams, 1 shared
            (1, shared),                           # 1 gram, shared
            (2, "totally different text here now"),  # 1 gram, unique
            (3, "shorty"),                         # < 5 tokens -> 0 grams
            (4, shared + " " + shared),            # 7 grams; all dup?
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["n_grams"], r["n_dup_grams"], r["dup_frac"])
        for r in duplicated_span_stats(
            docs, "doc_id", "text", n=5, min_docs=2
        ).collect()
    }
    assert rows[3] == (0, 0, None)
    assert rows[2] == (1, 0, 0.0)
    assert rows[1] == (1, 1, 1.0)
    # doc 0: grams = [one..five, two..alpha, three..beta]; only the
    # first occurs elsewhere
    assert rows[0] == (3, 1, round(1 / 3, 6))
    # doc 4: 'one two three four five one two three four five' has 6
    # grams appearing once in-doc plus 'one..five' twice; every gram
    # that also appears in docs 0/1 counts, plus the wrap-around grams
    # are unique to doc 4 (in >=1 doc only) -> dup mass = the two
    # 'one..five' positions (docs 0,1 share it)
    n_g, n_d, frac = rows[4]
    assert n_g == 6
    assert n_d == 2
    assert frac == round(2 / 6, 6)


def test_temperature_mixture_rates(spark):
    import math

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        temperature_mixture_rates,
    )

    rows = [(i, "en") for i in range(90)] + [(i + 100, "fr") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    got = {
        r["lang"]: r
        for r in temperature_mixture_rates(docs, "lang").collect()
    }
    s_en = round(math.sqrt(0.9), 9)
    s_fr = round(math.sqrt(0.1), 9)
    z = s_en + s_fr  # exact at 9dp in binary? use decimal-style sum
    assert got["en"]["n_docs"] == 90 and got["fr"]["n_docs"] == 10
    assert got["en"]["p_corpus"] == 0.9
    assert got["fr"]["p_corpus"] == 0.1
    assert got["en"]["samp_rate"] == round(s_en / z, 6)
    assert got["fr"]["samp_rate"] == round(s_fr / z, 6)
    # upsampling: fr rate above its corpus share, en below
    assert got["fr"]["samp_rate"] > 0.1 and got["en"]["samp_rate"] < 0.9
    assert got["en"]["expected_docs"] == math.floor(
        round(s_en / z, 6) * 100
    )


def test_importance_resample_exact_membership(spark):
    import hashlib as _h

    from nashville_etl_service_backup_spark.operators.text_analysis import (
        importance_resample,
    )

    rows = [(i, "en") for i in range(80)] + [(i + 100, "fr") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    shares = {"en": 40, "fr": 60}
    got = {
        r["doc_id"]
        for r in importance_resample(
            docs, "doc_id", "lang", shares, 1, 2
        ).collect()
    }
    n = {"en": 80, "fr": 20}
    desired = 50
    expected = set()
    for i, lang in rows:
        b = int(_h.md5(f"dsir:{i}".encode()).hexdigest()[:8], 16) % 100_000
        if b * 100 * n[lang] < shares[lang] * desired * 100_000:
            expected.add(i)
    assert got == expected
    # the rare group is upsampled: fr accept rate min(1, .6*50/20)=1.0
    assert all(i in got for i, lang in rows if lang == "fr")


def test_html_extract(spark):
    """Script/style removal, title + entity decode, link audit, and the
    short-line boilerplate filter, pinned on a handcrafted page."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        html_extract,
    )

    page = (
        "<html><head><title>My &amp; Your Page</title>"
        "<style>body { color: red; }</style></head><body>"
        '<div class="nav"><a href="/">Home</a> <a href="/up">Up</a></div>'
        "<script>if (1 < 2) { alert('x'); }</script>"
        "<p>this paragraph has plenty of words to keep</p>"
        "<p>tiny one</p>"
        '<div class="footer"><a href="/c">Contact &amp; help</a></div>'
        "</body></html>"
    )
    docs = spark.createDataFrame([(1, page)], "doc_id long, html string")
    r = html_extract(docs, "doc_id", "html").collect()[0]
    assert r["title"] == "My & Your Page"
    assert r["n_links"] == 3
    # head (title+style) never leaks into body text; kept lines: nav
    # "Home Up" (2 words, dropped), the long paragraph (kept), "tiny
    # one" (dropped), footer "Contact & help" (3 words, kept)
    assert r["n_lines_kept"] == 2
    anchors = ["Home", "Up", "Contact & help"]
    total = len("Home Up this paragraph has plenty of words to keep tiny one Contact & help")
    assert r["n_text_chars"] == total
    assert r["link_char_frac"] == round(
        sum(len(a) for a in anchors) / total, 6
    )


def test_normalize_url_and_domain(spark):
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        normalize_url,
        url_domain,
    )

    cases = [
        # (raw, expected_norm, expected_domain)
        ("HTTPS://WWW.Example.COM:443/a/b?x=1#frag",
         "https://www.example.com/a/b?x=1", "example.com"),
        ("http://site.org:80/", "http://site.org", "site.org"),
        ("https://a.b.co/p?utm_source=x&utm_medium=y&id=7",
         "https://a.b.co/p?id=7", "b.co"),
        ("https://x.com/p?id=7&utm_campaign=z", "https://x.com/p?id=7",
         "x.com"),
        ("https://x.com/p?gclid=abc", "https://x.com/p", "x.com"),
        ("https://x.com/deep/path/", "https://x.com/deep/path", "x.com"),
    ]
    df = spark.createDataFrame(
        [(i, c[0]) for i, c in enumerate(cases)], "i long, url string"
    )
    from pyspark.sql import functions as F

    out = df.select(
        "i",
        normalize_url(F.col("url")).alias("n"),
    ).withColumn("d", url_domain(F.col("n")))
    got = {r["i"]: (r["n"], r["d"]) for r in out.collect()}
    for i, (_, n, d) in enumerate(cases):
        assert got[i] == (n, d), (i, got[i], (n, d))


def test_bigram_lm_nll_flags_scrambled_text(spark):
    """A doc made of train-corpus sentences must score lower NLL than a
    doc of the same words in scrambled order (unseen bigrams pay the
    add-one OOV penalty ln(V))."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bigram_lm_nll,
    )

    sent = "the quick brown fox jumps over the lazy dog"
    words = sent.split()
    scrambled = " ".join(words[::-1])
    # doc_ids chosen so the corpus docs land in the train split
    # (split_assign is md5-deterministic; ids 1..40 give a train
    # majority) and the probe docs score against that model.
    rows = [(i, sent) for i in range(1, 41)]
    rows.append((1001, sent))
    rows.append((1002, scrambled))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["nll"]
        for r in bigram_lm_nll(df, "doc_id", "text").collect()
    }
    assert out[1001] < out[1002]
    assert all(v > 0 for v in out.values())


def test_bigram_head_count_is_model_marginal(spark):
    """Round-9 rewrite pin: c(w1) derived as the marginal of the c12
    model aggregate must equal the stream-keyed groupBy(w1) it
    replaced — same key set, same counts — so the nll output is
    unchanged to the last bit. Reference computed inline with the old
    formulation."""
    from pyspark.sql import functions as F

    from nashville_etl_service_backup_spark.functions.text import tokenize
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        bigram_lm_nll,
        split_assign,
    )

    rows = [
        (i, t)
        for i, t in enumerate(
            [
                "the cat sat on the mat",
                "the cat ran to the door",
                "a dog sat on a rug",
                "the dog and the cat nap",
                "cats and dogs do not mix",
                "one two three four five",
                "the the the repeated head",
                "singleton",
                "",
            ]
            * 6
        )
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # reference c1: the old stream-keyed head count
    toks = tokenize(F.col("text"))
    n = F.size("_t")
    pairs = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("_t"), 1, n - 1),
            F.slice(F.col("_t"), 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    base = df.select(
        "doc_id",
        toks.alias("_t"),
        (split_assign(F.col("doc_id")) == "train").alias("_is_train"),
    )
    bg = base.select("doc_id", "_is_train", F.explode(pairs).alias("_p")).select(
        "doc_id", "_is_train", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2")
    )
    train_bg = bg.filter(F.col("_is_train"))
    c12 = train_bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    old_c1 = {
        r["w1"]: r["_c1"]
        for r in train_bg.groupBy("w1")
        .agg(F.count(F.lit(1)).alias("_c1"))
        .collect()
    }
    new_c1 = {
        r["w1"]: r["_c1"]
        for r in c12.groupBy("w1").agg(F.sum("_c12").alias("_c1")).collect()
    }
    assert new_c1 == old_c1 and len(old_c1) > 0

    # end-to-end: the operator's nll column is well-formed over the
    # same corpus (every doc with >=1 bigram appears exactly once)
    out = bigram_lm_nll(df, "doc_id", "text").collect()
    want_ids = {r["doc_id"] for r in bg.select("doc_id").distinct().collect()}
    assert {r["doc_id"] for r in out} == want_ids


def test_tfidf_cosine_topk_finds_planted_neighbor(spark):
    """A near-copy of the query doc must rank first with cosine near 1;
    the query doc itself is excluded."""
    from nashville_etl_service_backup_spark.operators.text_analysis import (
        tfidf_cosine_topk,
    )

    base = "apples and oranges make a tasty fruit salad in summer"
    rows = [
        (0, base),
        (1, base + " indeed"),
        (2, "completely different words about rockets and planets"),
        (3, "the band plays loud rock music tonight on stage"),
        (4, "fruit salad with apples is tasty"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = tfidf_cosine_topk(df, query_id=0, k=3).collect()
    assert [r["doc_id"] for r in out][0] == 1
    # the one extra rare term ("indeed") carries high idf in a 5-doc
    # corpus, so the near-copy tops out around 0.85 here
    assert out[0]["cosine"] > 0.8
    assert all(r["doc_id"] != 0 for r in out)

"""Property-based parity: Spark column expressions vs plain-Python
reference implementations over hypothesis-generated text.

Each property collects its generated examples and evaluates them in a
single Spark job (per example would be ~1s each); shrinking still works
because the assertion failure identifies the offending example.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.functions import (
    content_hash_col,
    token_count_col,
)

# printable-ish text incl. unicode, whitespace runs, empty
TEXT = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=80,
)

SLOW = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


# Java's \s is exactly [ \t\n\x0B\f\r]; Python's also matches \x1c-\x1f
# and unicode spaces, so the reference impl must spell the class out.
_JWS = "[ \t\n\x0b\f\r]"


def _py_token_count(t: str) -> int:
    stripped = re.sub(rf"^{_JWS}+|{_JWS}+$", "", t)
    return 0 if not stripped else len(re.split(rf"{_JWS}+", stripped))


def _py_content_hash(t: str) -> str:
    norm = re.sub(rf"{_JWS}+", " ", t)
    norm = re.sub(rf"^{_JWS}+|{_JWS}+$", "", norm).lower()
    return hashlib.sha256(norm.encode("utf-8")).hexdigest()


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_token_count_property(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", token_count_col("text").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        expected = _py_token_count(t)
        assert got[i] == expected, f"text={t!r} spark={got[i]} py={expected}"


@SLOW
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_content_hash_property(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {
        r["i"]: r["h"]
        for r in df.select("i", content_hash_col("text").alias("h")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_content_hash(t), f"text={t!r}"


@SLOW
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=2,
        max_size=40,
        unique=True,
    )
)
def test_zorder_key_monotone_per_axis(spark, points):
    """With the other coordinate fixed, the Morton key is monotone in
    each axis (bit positions of one axis form a fixed subset)."""
    from pyspark.sql import functions as F

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.sources.layout import (
        zorder_key_col,
    )

    df = spark.createDataFrame(points, "x long, y long")
    rows = df.select(
        "x",
        "y",
        zorder_key_col([F.col("x"), F.col("y")], [0.0, 0.0], [65535.0, 65535.0], 16).alias("z"),
    ).collect()
    by_y: dict[int, list] = {}
    by_x: dict[int, list] = {}
    for r in rows:
        by_y.setdefault(r["y"], []).append((r["x"], r["z"]))
        by_x.setdefault(r["x"], []).append((r["y"], r["z"]))
    for grp in list(by_y.values()) + list(by_x.values()):
        grp.sort()
        zs = [z for _, z in grp]
        assert zs == sorted(zs), grp


@SLOW
@given(st.integers(min_value=2, max_value=9))
def test_weighted_sample_invariant_to_partitioning(spark, nparts):
    """The A-ES sample is a pure function of (key, weight) — physical
    layout must not change it."""
    from pyspark.sql import functions as F

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.sampling import (
        weighted_sample,
    )

    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 11 + 1).alias("w")
    )
    base = [(r.doc_id, r.samp_key) for r in weighted_sample(df, "doc_id", "w", 25).collect()]
    got = [
        (r.doc_id, r.samp_key)
        for r in weighted_sample(df.repartition(nparts), "doc_id", "w", 25).collect()
    ]
    assert got == base


def test_dup_passages_matches_bruteforce_property(spark):
    """Generated mini-corpora: both execution forms of dup_passages
    must equal a brute-force Python count of distinct word-5-grams."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.textstats import (
        dup_passages,
    )

    words = st.sampled_from(["alpha", "beta", "gamma", "delta", "x"])
    doc = st.lists(words, min_size=0, max_size=12).map(" ".join)

    @settings(
        max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    @given(texts=st.lists(doc, min_size=1, max_size=8))
    def inner(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")

        from collections import Counter

        counts = Counter()
        for _i, t in rows:
            toks = t.split()
            if len(toks) < 5:
                continue
            shingles = {
                " ".join(toks[j : j + 5]) for j in range(len(toks) - 4)
            }
            counts.update(shingles)
        expected = sorted(
            ((p, n) for p, n in counts.items() if n >= 2),
            key=lambda x: (-x[1], x[0]),
        )[:20]

        for form in (False, True):
            got = [
                (r["passage"], r["n_docs"])
                for r in dup_passages(df, two_phase=form).collect()
            ]
            assert got == expected, (form, got, expected)

    inner()


def test_cohort_retention_matches_bruteforce_property(spark):
    """Generated (user, day-offset) activity sets: the cohort matrix
    must equal a brute-force Python computation."""
    from collections import defaultdict
    from datetime import datetime, timedelta

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.windows import (
        cohort_retention,
    )

    BASE = datetime(2024, 1, 3)  # a Wednesday: exercises non-aligned buckets

    EVENTS = st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 40)),
        min_size=1,
        max_size=30,
    )

    @settings(
        max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow]
    )
    @given(acts=EVENTS)
    def inner(acts):
        rows = [(u, BASE + timedelta(days=d)) for u, d in acts]
        ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
        got = {
            (r["cohort_start"], r["period_offset"]): r["n_users"]
            for r in cohort_retention(ev, bucket_days=7).collect()
        }

        epoch = datetime(1970, 1, 1)
        first = {}
        for u, d in acts:
            first[u] = min(first.get(u, 10**9), d)
        cells = defaultdict(set)
        for u, d in acts:
            fb = ((BASE + timedelta(days=first[u])) - epoch).days // 7
            db = ((BASE + timedelta(days=d)) - epoch).days // 7
            cohort = (epoch + timedelta(days=fb * 7)).strftime("%Y-%m-%d")
            cells[(cohort, db - fb)].add(u)
        expected = {k: len(v) for k, v in cells.items()}
        assert got == expected, (got, expected)

    inner()


STATUSES = ("pending", "processing", "done", "failed")
# `failed` drawn about half the time so uploads reach the DLQ cap often
TRANSITION_LOGS = st.lists(
    st.lists(st.sampled_from(STATUSES) | st.just("failed"), min_size=1, max_size=8),
    min_size=1,
    max_size=5,
)


def _transition_ledger(spark, logs, order):
    """LEDGER_SCHEMA rows: upload u{i} gets one row per status in
    logs[i]; `order` gives every row a distinct ts, unrelated to the
    row's position in its upload's log."""
    from datetime import datetime, timedelta

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.schemas import (
        LEDGER_SCHEMA,
    )

    base = datetime(2024, 5, 1)
    flat = [(f"u{i}", s) for i, log in enumerate(logs) for s in log]
    rows = [
        (uid, "bkt", f"{uid}.csv", 10, status, None, None, None, None, None, None,
         base + timedelta(seconds=order[j]))
        for j, (uid, status) in enumerate(flat)
    ]
    return spark.createDataFrame(rows, LEDGER_SCHEMA)


@SLOW
@given(logs=TRANSITION_LOGS, data=st.data())
def test_terminal_gate_and_point_lookup_match_latest_wins(spark, logs, data):
    """The one-aggregation gate equals its two-aggregation definition
    (latest `done` ∪ failed count at the DLQ cap), and the top-1
    `point_lookup` equals `latest_wins` filtered to the key, for every
    present key and a missing one."""
    from pyspark.sql import functions as F

    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.ingest import (
        terminal_upload_ids,
    )
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.operators.ledger import (
        latest_wins,
        point_lookup,
    )
    from csv_data_ingestion_pipeline_with_idempotency_on_google_cloud_platform_spark.schemas import (
        MAX_DELIVERY_ATTEMPTS,
    )

    n_rows = sum(len(log) for log in logs)
    order = data.draw(st.permutations(range(n_rows)))
    ledger = _transition_ledger(spark, logs, order)

    done = latest_wins(ledger).filter(F.col("status") == "done").select("upload_id")
    exhausted = (
        ledger.filter(F.col("status") == "failed")
        .groupBy("upload_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= MAX_DELIVERY_ATTEMPTS)
        .select("upload_id")
    )
    expected = {r["upload_id"] for r in done.unionByName(exhausted).collect()}
    got = [r["upload_id"] for r in terminal_upload_ids(ledger).collect()]
    assert len(got) == len(set(got)) and set(got) == expected, (logs, order)

    current = {r["upload_id"]: r.asDict() for r in latest_wins(ledger).collect()}
    for uid in [f"u{i}" for i in range(len(logs))] + ["missing"]:
        want = [current[uid]] if uid in current else []
        assert [r.asDict() for r in point_lookup(ledger, uid).collect()] == want, uid

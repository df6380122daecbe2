"""Temperature mixing, graded n-gram overlap, and source-drift operators —
each asserted against a pure-integer Python reference (the same arithmetic
the DuckDB oracles mirror), plus the streaming-drift twin / compaction
round-trip, per the repo contract that every operator ships with its test."""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re

import pytest
from pyspark.sql import functions as F

from stateful_spark_streaming_spark.operators.dedup import ngram_overlap_score
from stateful_spark_streaming_spark.operators.sampling import temperature_mix
from stateful_spark_streaming_spark.operators.stats import (
    source_drift,
    source_drift_from_counts,
    unigram_source_counts,
)
from tests.conftest import land_batches as _land_batches

# ---------------------------------------------------------------------------
# temperature_mix
# ---------------------------------------------------------------------------


def _ref_rates(counts: dict[str, int], target: int) -> dict[str, int]:
    """Pure-integer reference for the alpha=0.5 keep rates."""
    w = {s: math.isqrt(n) for s, n in counts.items()}
    wsum = sum(w.values())
    return {
        s: min(10000, (10000 * target * w[s]) // (wsum * counts[s]))
        for s in counts
    }


def _ref_bucket(seed: str, doc_id: int, buckets: int) -> int:
    return int(hashlib.md5(f"{seed}{doc_id}".encode()).hexdigest()[:8], 16) % buckets


def test_temperature_mix_exact_rates_and_rows(spark):
    # skewed sources: 400 / 100 / 4 docs — sqrt-weighting must up-weight
    # the small source's RATE while keeping kept-mass ∝ sqrt(n)
    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "mid") for i in range(100)]
        + [(2000 + i, "tiny") for i in range(4)]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    got = {(r["doc_id"], r["source"], r["rate_bp"]) for r in temperature_mix(df, 50).collect()}

    rates = _ref_rates({"big": 400, "mid": 100, "tiny": 4}, 50)
    assert rates["tiny"] > rates["mid"] > rates["big"]
    want = {
        (d, s, rates[s])
        for d, s in rows
        if _ref_bucket("temp1", d, 10000) < rates[s]
    }
    assert got == want and got


def test_temperature_mix_survives_bigint_overflow_target(spark):
    # target_total ~4e18: the basis-point numerator 10000·target·w crosses
    # 9.2e18, so BIGINT arithmetic would wrap (negative rate → 0 rows kept,
    # silently).  The DECIMAL(38,0) form must still floor-divide exactly:
    # every rate caps at 10000 and every row survives.
    rows = [(i, "a") for i in range(5)] + [(10 + i, "b") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, target_total=4 * 10**18).collect()
    assert {r["rate_bp"] for r in out} == {10000}
    assert len(out) == len(rows)


def test_temperature_mix_small_source_rate_caps_at_10000(spark):
    # target larger than the corpus → every rate hits the 10000 cap and
    # every row is kept (the LEAST guard, not a >100% rate)
    rows = [(i, "a") for i in range(5)] + [(10 + i, "b") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = temperature_mix(df, target_total=1000).collect()
    assert {r["rate_bp"] for r in out} == {10000}
    assert len(out) == len(rows)


# ---------------------------------------------------------------------------
# ngram_overlap_score
# ---------------------------------------------------------------------------


def test_ngram_overlap_exact_fractions(spark):
    # eval doc 1: fully contained in train doc 10      → 10000 bp
    # eval doc 2: shares exactly 1 of its 2 shingles   → 5000 bp
    # eval doc 3: disjoint vocabulary                  → 0 bp
    # eval doc 4: 2 tokens < k=3                       → absent
    train = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon"),
            (11, "one two three unrelated words here"),
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "one two three zz11 qq22"),  # shingles: "one two three" hit, rest miss
            (3, "totally different vocabulary set"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_hit"], r["overlap_bp"])
        for r in ngram_overlap_score(train, ev, k=3).collect()
    }
    assert got == {1: (2, 2, 10000), 2: (3, 1, 3333), 3: (2, 0, 0)}


def test_ngram_overlap_duplicate_shingles_count_once(spark):
    # repeated shingle inside one eval doc is ONE set element on both the
    # numerator and denominator (set semantics, the _shingle_index contract)
    train = spark.createDataFrame([(10, "a b c a b c")], "doc_id long, text string")
    ev = spark.createDataFrame([(1, "a b c a b c a b c")], "doc_id long, text string")
    [r] = ngram_overlap_score(train, ev, k=3).collect()
    # distinct shingles of ev: "a b c","b c a","c a b" — all in train
    assert (r["n_shingles"], r["n_hit"], r["overlap_bp"]) == (3, 3, 10000)


def test_ngram_overlap_eval_kernel_evaluates_once(spark):
    """r14 optimization pin (session 5): the eval shingle index feeds
    both the broadcast dictionary and the scoring join — it must be
    persisted so the eval-side Arrow kernel runs once (both consumers
    read the cache), not re-expanded per branch."""
    train = spark.createDataFrame([(10, "a b c d e")], "doc_id long, text string")
    ev = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    out = ngram_overlap_score(train, ev, k=3)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # the formatted plan names each node twice (tree line + detail
    # header): count the "(n) InMemoryTableScan" detail headers
    assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 2, plan
    spark.catalog.clearCache()


# ---------------------------------------------------------------------------
# source_drift
# ---------------------------------------------------------------------------


def _ref_drift(docs: list[tuple[str, str]], scale: int = 10**8):
    """Pure-integer reference of the TV formula (tokens pre-normalized)."""
    from collections import Counter

    c: Counter = Counter()
    for src, text in docs:
        for t in text.split():
            if t:
                c[(src, t)] += 1
    tot_s: Counter = Counter()
    g: Counter = Counter()
    for (s, t), n in c.items():
        tot_s[s] += n
        g[t] += n
    tot = sum(g.values())
    pg = {t: (scale * n) // tot for t, n in g.items()}
    s2 = sum(pg.values())
    out = {}
    for s in tot_s:
        s1 = sum(
            abs((scale * n) // tot_s[s] - pg[t]) - pg[t]
            for (src, t), n in c.items()
            if src == s
        )
        tv = (s1 + s2) // 2
        out[s] = (
            tot_s[s],
            len([1 for (src, _t) in c if src == s]),
            tv,
            tv // (scale // 10_000),
        )
    return out


def test_source_drift_single_source_is_zero(spark):
    df = spark.createDataFrame(
        [(1, "a b c a", "only"), (2, "b c d", "only")],
        "doc_id long, text string, source string",
    )
    [r] = source_drift(df).collect()
    assert (r["tv_scaled"], r["tv_bp"]) == (0, 0)


def test_source_drift_matches_integer_reference(spark):
    docs = [
        ("a", "x x y z common"),
        ("a", "y common w"),
        ("b", "p q r common common"),
        ("b", "q q s"),
    ]
    df = spark.createDataFrame(
        [(i, t, s) for i, (s, t) in enumerate(docs)],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: (
            r["total_tokens"],
            r["n_tokens_distinct"],
            r["tv_scaled"],
            r["tv_bp"],
        )
        for r in source_drift(df).collect()
    }
    assert got == _ref_drift(docs)


def test_source_drift_disjoint_equal_sources_near_half(spark):
    # two same-size sources with disjoint vocabularies: true TV is exactly
    # 1/2; the scaled-integer value may sit a few ulps under from
    # per-token truncation but NEVER over
    df = spark.createDataFrame(
        [(1, "a b c d", "s1"), (2, "w x y z", "s2")],
        "doc_id long, text string, source string",
    )
    for r in source_drift(df).collect():
        assert 4999 <= r["tv_bp"] <= 5000


def test_source_drift_overflow_guard_raises(spark):
    # scale so large the BIGINT bound is 1 token — the raise_error guard
    # must fire loudly instead of silently wrapping
    counts = spark.createDataFrame(
        [("a", "t1", 5), ("b", "t2", 7)], "source string, token string, c long"
    )
    with pytest.raises(Exception, match="too large for scale"):
        source_drift_from_counts(counts, scale=1 << 62).collect()


# ---------------------------------------------------------------------------
# streaming twin
# ---------------------------------------------------------------------------


def _drift_batches():
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "alpha beta gamma delta epsilon zeta",
        "the fox and the hound share the the tokens",
        "totally fresh vocabulary appears here now",
        "alpha alpha beta fox dog lazy",
        "closing batch with the usual suspects",
    ]
    rows = [(i, t, "src%d" % (i % 2)) for i, t in enumerate(texts)]
    return [rows[:2], rows[2:4], rows[4:]]


def test_streaming_source_drift_equals_batch(spark, tmp_path):
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_source_drift,
    )

    src = _land_batches(
        spark, tmp_path, "drift", _drift_batches(), ("doc_id", "text", "source")
    )
    ck = str(tmp_path / "ck_drift")
    got = sorted(
        map(
            tuple,
            run_streaming_source_drift(
                spark, src, checkpoint_dir=ck, max_files_per_trigger=1
            ).collect(),
        )
    )
    batch = spark.createDataFrame(
        [r for b in _drift_batches() for r in b],
        "doc_id long, text string, source string",
    )
    want = sorted(map(tuple, source_drift(batch).collect()))
    assert got == want and got, "streaming twin must equal batch EXACTLY"
    assert len(glob.glob(os.path.join(ck + "_counts", "*.parquet"))) > 1


def test_source_drift_compaction_roundtrip(spark, tmp_path):
    from stateful_spark_streaming_spark.streaming.pipeline import (
        STAGED_SINK_COMPACTION,
        compact_partial_log,
        run_streaming_source_drift,
    )

    src = _land_batches(
        spark, tmp_path, "driftc", _drift_batches(), ("doc_id", "text", "source")
    )
    ck = str(tmp_path / "ck_driftc")

    def run():
        return run_streaming_source_drift(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        )

    before = sorted(map(tuple, run().collect()))
    n_before = len(glob.glob(os.path.join(ck + "_counts", "*.parquet")))
    compact_partial_log(
        spark, ck + "_counts", **STAGED_SINK_COMPACTION["source_token_counts"]
    )
    n_after = len(glob.glob(os.path.join(ck + "_counts", "*.parquet")))
    after = sorted(map(tuple, run().collect()))
    assert after == before and before
    assert n_after < n_before, f"no physical fold: {n_before} -> {n_after}"

"""Round-8 gate closure for the round-7 orphans: the fixed-width
histogram family (operators/stats.py + run_streaming_quality_histogram)
and bloom decontamination (dedup.decontaminate_bloom) — each proven
against integer oracles / exact twins, per the repo contract that every
operator carries a test in the same round it ships."""

from __future__ import annotations

import glob
import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from stateful_spark_streaming_spark.operators.dedup import (
    bloom_build,
    bloom_maybe_contains,
    bloom_size_bits,
    decontaminate,
    decontaminate_bloom,
)
from stateful_spark_streaming_spark.operators.stats import (
    fixed_width_histogram,
    histogram_quantiles,
)
from tests.conftest import land_batches as _land_batches

# ---------------------------------------------------------------------------
# histogram binning / edges
# ---------------------------------------------------------------------------


def _py_hist(values: list[float | None], n_bins: int, scale: int = 10_000):
    """Pure-integer reference: the ONE spec scaled_bin/histogram_finalize
    are asserted against."""
    out: dict[int, int] = {}
    for v in values:
        if v is None:
            continue
        bp = round(v * scale)
        b = min(bp * n_bins // scale, n_bins - 1)
        out[b] = out.get(b, 0) + 1
    return {
        b: ((b * scale + n_bins - 1) // n_bins, n)  # (ceil lower edge, count)
        for b, n in out.items()
    }


def test_scaled_bin_exact_edges(spark):
    # 0.55 with 20 bins sits EXACTLY on the bin-10/bin-11 edge — the
    # cross-engine flip case the scaled-integer design exists for; also
    # 0.0 (first edge), 1.0 (cap into the last bin), NULL (dropped).
    vals = [0.55, 0.5499, 0.55, 0.0, 1.0, 0.9999, 0.05, None]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["bin"]: (r["bin_lo_bp"], r["n"])
        for r in fixed_width_histogram(df, F.col("v"), (), n_bins=20).collect()
    }
    assert got == _py_hist(vals, 20)
    assert got[11] == (5500, 2)  # 0.55 lands in bin 11, not 10
    assert got[19][1] == 2  # 1.0 capped + 0.9999


def test_bin_edge_matches_duckdb(spark):
    # same edge set pushed through the DuckDB form of the binning SQL the
    # catalog oracle uses — engines must agree bin-for-bin
    vals = [0.55, 0.5499, 0.55, 0.0, 1.0, 0.9999, 0.05, 0.4500, 0.4499]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = sorted(
        (r["bin"], r["bin_lo_bp"], r["n"])
        for r in fixed_width_histogram(df, F.col("v"), (), n_bins=20).collect()
    )
    con = duckdb.connect()
    want = sorted(
        con.execute(
            """
            SELECT least(CAST((CAST(round(v * 10000) AS BIGINT) * 20) // 10000 AS INT), 19) AS bin,
                   CAST((bin * 10000 + 19) // 20 AS INT) AS bin_lo_bp,
                   CAST(count(*) AS BIGINT) AS n
            FROM (SELECT unnest(?) AS v) GROUP BY bin
            """,
            [vals],
        ).fetchall()
    )
    assert got == want


def test_edges_when_nbins_does_not_divide_scale(spark):
    # ADVICE r7 (low): truncating width emitted bin 2 of 3 as 6666 bp;
    # the true edge under bp*3//10000 is ceil(2*10000/3) = 6667 (the
    # smallest bp whose quotient is 2: 6667*3//10000 = 2, 6666*3//10000 = 1)
    vals = [0.1, 0.5, 0.6666, 0.6667, 0.9]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        r["bin"]: r["bin_lo_bp"]
        for r in fixed_width_histogram(df, F.col("v"), (), n_bins=3).collect()
    }
    assert got == {0: 0, 1: 3334, 2: 6667}
    # and 0.6666/0.6667 straddle that edge
    ns = {
        r["bin"]: r["n"]
        for r in fixed_width_histogram(df, F.col("v"), (), n_bins=3).collect()
    }
    assert ns == {0: 1, 1: 2, 2: 2}


def test_histogram_quantiles_integer_rank(spark):
    # 10 values in group a: ranks for p25/p50/p75/p95 over total=10 are
    # ceil(2.5)=3, 5, ceil(7.5)=8, ceil(9.5)=10 — quantile = lower edge of
    # the bin where cumulative count first reaches the rank
    a = [0.05, 0.05, 0.15, 0.15, 0.15, 0.35, 0.35, 0.65, 0.65, 0.95]
    b = [0.25] * 4
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "g string, v double")
    hist = fixed_width_histogram(df, F.col("v"), ("g",), n_bins=10)
    got = {r["g"]: r for r in histogram_quantiles(hist, ("g",)).collect()}
    assert got["a"]["total"] == 10 and got["b"]["total"] == 4

    # assert against the pure-python integer-rank reference
    def ref_q(vals, qbp):
        hist_ref = _py_hist(vals, 10)
        total = sum(n for _, n in hist_ref.values())
        rank = (total * qbp + 9999) // 10000
        cum = 0
        for b in sorted(hist_ref):
            cum += hist_ref[b][1]
            if cum >= rank:
                return hist_ref[b][0] / 10000.0
        raise AssertionError

    for g, vals in (("a", a), ("b", b)):
        for q, col in ((2500, "p25"), (5000, "p50"), (7500, "p75"), (9500, "p95")):
            assert got[g][col] == ref_q(vals, q), (g, col)


def test_trim_by_quantile_edge_and_groups(spark):
    from stateful_spark_streaming_spark.operators.stats import trim_by_quantile

    # group a: 8 values, p25 rank = ceil(0.25*8)=2 -> threshold = lower
    # edge of the bin holding the 2nd value (0.1); a value EXACTLY at the
    # threshold edge must be KEPT (>=, not >).  group b independent.
    rows = (
        [("a", 0.05), ("a", 0.10)] + [("a", v) for v in (0.3, 0.4, 0.5, 0.6, 0.7, 0.8)]
        + [("b", 0.9), ("b", 0.95), ("b", None)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = sorted(
        (r["g"], r["v"])
        for r in trim_by_quantile(df, "v", ("g",), q_bp=2_500, n_bins=10).collect()
    )
    # a: threshold = p25 = lower edge of bin(0.10) = 0.1 -> 0.05 dropped,
    # 0.10 kept (edge).  b: threshold = edge of bin(0.9) = 0.9 -> both
    # kept; NULL dropped.
    assert got == sorted(
        [("a", v) for v in (0.10, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8)]
        + [("b", 0.9), ("b", 0.95)]
    )


# ---------------------------------------------------------------------------
# streaming twin + compaction
# ---------------------------------------------------------------------------


def _doc_batches():
    texts = [
        "the quick brown fox jumps over the lazy dog and that is fine",
        "punctuation!!! heavy??? text;;; with@@@ symbols### everywhere$$$",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "the the the the the the the the",
        "one of the finest short documents that is known to exist for tests",
        "word " * 80,
    ]
    rows = [(i, t, "src%d" % (i % 2)) for i, t in enumerate(texts)]
    return [rows[:2], rows[2:4], rows[4:]]


def test_streaming_quality_histogram_equals_batch(spark, tmp_path):
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_quality_histogram,
    )

    src = _land_batches(
        spark, tmp_path, "qh", _doc_batches(), ("doc_id", "text", "source")
    )
    ck = str(tmp_path / "ck_qh")
    got = sorted(
        map(
            tuple,
            run_streaming_quality_histogram(
                spark, src, checkpoint_dir=ck, max_files_per_trigger=1
            ).collect(),
        )
    )
    from stateful_spark_streaming_spark.operators.text import quality_score

    batch = fixed_width_histogram(
        quality_score(spark.read.parquet(src), keep_cols=("source",)),
        F.col("quality_score"),
        ("source",),
        n_bins=20,
    )
    want = sorted(map(tuple, batch.collect()))
    assert got == want and got, "streaming twin must equal batch EXACTLY"
    # the staged log saw >1 batch (the twin test means nothing single-batch)
    assert len(glob.glob(os.path.join(ck + "_hist", "*.parquet"))) > 1


def test_quality_hist_compaction_roundtrip(spark, tmp_path):
    from stateful_spark_streaming_spark.streaming.pipeline import (
        STAGED_SINK_COMPACTION,
        compact_partial_log,
        run_streaming_quality_histogram,
    )

    src = _land_batches(
        spark, tmp_path, "qhc", _doc_batches(), ("doc_id", "text", "source")
    )
    ck = str(tmp_path / "ck_qhc")

    def run():
        return run_streaming_quality_histogram(
            spark, src, checkpoint_dir=ck, max_files_per_trigger=1
        )

    before = sorted(map(tuple, run().collect()))
    n_before = len(glob.glob(os.path.join(ck + "_hist", "*.parquet")))
    compact_partial_log(
        spark, ck + "_hist", **STAGED_SINK_COMPACTION["quality_hist"]
    )
    n_after = len(glob.glob(os.path.join(ck + "_hist", "*.parquet")))
    after = sorted(map(tuple, run().collect()))
    assert after == before and before
    assert n_after < n_before, f"no physical fold: {n_before} -> {n_after}"


# ---------------------------------------------------------------------------
# bloom decontamination
# ---------------------------------------------------------------------------


def _corpus(spark):
    ev = spark.createDataFrame(
        [
            (1000, "the secret eval answer is forty two exactly"),
            (1001, "benchmark question about brown foxes jumping high"),
        ],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "training doc containing the secret eval answer is forty two exactly today"),
            (2, "clean training doc about unrelated matters entirely here"),
            (3, "another clean doc speaking of green turtles swimming slowly"),
            (4, "benchmark question about brown foxes jumping high appears verbatim"),
            (5, "short"),
        ],
        "doc_id long, text string",
    )
    return tr, ev


def test_decontaminate_bloom_parity(spark):
    tr, ev = _corpus(spark)
    want = sorted(map(tuple, decontaminate(tr, ev, k=5).collect()))
    got = sorted(map(tuple, decontaminate_bloom(tr, ev, k=5).collect()))
    assert got == want
    assert dict(want)[1] and dict(want)[4] and not dict(want)[2]


def test_bloom_probe_not_copied_across_verify_join(spark):
    """r14 optimization pin (session 5): the Arrow bloom probe is marked
    non-deterministic so InferFiltersFromJoin cannot copy it across the
    verify semi-join onto the EVAL side — the side the bitmap is built
    FROM, where every row passes by construction (the guide-§4.4
    duplicated-UDF class, here duplicated by join-key inference instead
    of filter pushdown).  Exactly ONE Python probe node may appear in
    the whole plan."""
    tr, ev = _corpus(spark)
    out = decontaminate_bloom(tr, ev, k=5)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    # the formatted dump names each node twice (tree line + details
    # header) — count the details headers only
    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan


def test_decontaminate_bloom_parity_under_forced_collisions(spark):
    # a 64-bit bloom with 2 hashes over dozens of shingles saturates —
    # nearly every probe is a false positive — yet the exact verify join
    # must keep the output identical (blooms only prune, never decide)
    tr, ev = _corpus(spark)
    want = sorted(map(tuple, decontaminate(tr, ev, k=5).collect()))
    got = sorted(
        map(tuple, decontaminate_bloom(tr, ev, k=5, n_bits=64, n_hashes=2).collect())
    )
    assert got == want


def test_bloom_sizing_and_pruning_at_eval_scale(spark):
    # VERDICT r7 #5: the operator exists to decontaminate against a LARGE
    # eval/held-out side.  Size the bitmap for a 10^6-shingle eval set via
    # bloom_size_bits and assert the map-only probe prunes a disjoint
    # train side >= 100x before the exact verify join — executing the
    # FP-rate math at the scale it was written for.  At this size
    # bloom_prune takes the broadcast+Arrow path (a 2^24-bit literal
    # costs minutes of Catalyst planning — measured, see bloom_prune).
    from stateful_spark_streaming_spark.operators.dedup import bloom_prune

    n_eval, n_train = 1_000_000, 200_000
    n_bits = bloom_size_bits(n_eval, n_hashes=5, target_fp=0.01)
    assert n_bits == 1 << 24  # ~9.9 bits/key rounded up to a power of 2
    ev = spark.range(n_eval).select(
        F.concat(F.lit("ev-"), F.col("id").cast("string")).alias("shingle")
    )
    bitmap = bloom_build(ev, "shingle", n_bits, n_hashes=5)
    assert len(bitmap) == n_bits // 64
    tr = spark.range(n_train).select(
        F.concat(F.lit("tr-"), F.col("id").cast("string")).alias("shingle")
    )
    survivors = bloom_prune(tr, "shingle", bitmap, n_bits, 5).count()
    assert survivors <= n_train // 100, (
        f"bloom pruned only {n_train}->{survivors}; FP math is off"
    )
    # no false negatives: every true member must pass the probe
    kept = bloom_prune(ev.limit(10_000), "shingle", bitmap, n_bits, 5).count()
    assert kept == 10_000


def test_bloom_probe_paths_agree(spark):
    # the literal path (JVM element_at) and the broadcast/Arrow path
    # (numpy probe) must admit EXACTLY the same key set for the same
    # bitmap — build/probe hash-family drift would break the
    # no-false-negative contract silently
    from stateful_spark_streaming_spark.operators.dedup import bloom_prune

    n_bits = 1 << 12
    ev = spark.range(300).select(
        F.concat(F.lit("k-"), F.col("id").cast("string")).alias("shingle")
    )
    bitmap = bloom_build(ev, "shingle", n_bits, n_hashes=3)
    probe = spark.range(2_000).select(
        F.concat(F.lit("k-"), F.col("id").cast("string")).alias("shingle")
    )
    lit_side = set(
        r.shingle
        for r in probe.filter(
            bloom_maybe_contains(F.col("shingle"), bitmap, n_bits, 3)
        ).collect()
    )
    # bloom_prune's default IS the Arrow path (_BLOOM_LITERAL_MAX_BITS=0)
    arrow_side = set(
        r.shingle
        for r in bloom_prune(probe, "shingle", bitmap, n_bits, 3).collect()
    )
    assert lit_side == arrow_side
    assert len(lit_side) >= 300  # all members + whatever FPs


# ---------------------------------------------------------------------------
# count-min sketch heavy hitters
# ---------------------------------------------------------------------------


def _skewed_docs(spark):
    rows = []
    # token frequencies: alpha 60, beta 30, gamma 15, deltaN 1 each
    for i in range(30):
        rows.append((i, "alpha alpha beta" + (" gamma" if i % 2 == 0 else "")))
    rows += [(100 + j, f"delta{j}") for j in range(40)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_cms_never_undercounts_and_ranks_heavy_hitters(spark):
    from stateful_spark_streaming_spark.operators.stats import (
        cms_counters,
        cms_estimate,
    )
    from stateful_spark_streaming_spark.operators.text import _token_occurrences

    docs = _skewed_docs(spark)
    occ = _token_occurrences(docs, "text", "doc_id")
    exact = {r["token"]: r["cnt"] for r in occ.groupBy("token").count().withColumnRenamed("count", "cnt").collect()}
    counters = cms_counters(occ, "token", depth=4, width=1024)
    est = {
        r["token"]: r["est_count"]
        for r in cms_estimate(counters, occ.select("token").distinct(), "token", 4, 1024).collect()
    }
    assert set(est) == set(exact)
    for t, c in exact.items():
        assert est[t] >= c, f"CMS under-counted {t}: {est[t]} < {c}"
    # the heavy head must rank correctly by estimate
    top3 = sorted(est, key=lambda t: (-est[t], t))[:3]
    assert top3 == ["alpha", "beta", "gamma"]


def test_cms_collisions_overcount_and_depth_tightens(spark):
    from stateful_spark_streaming_spark.operators.stats import (
        cms_counters,
        cms_estimate,
    )
    from stateful_spark_streaming_spark.operators.text import _token_occurrences

    occ = _token_occurrences(_skewed_docs(spark), "text", "doc_id")
    cands = occ.select("token").distinct()
    total = occ.count()

    def est_with(depth, width):
        return {
            r["token"]: r["est_count"]
            for r in cms_estimate(
                cms_counters(occ, "token", depth, width), cands, "token", depth, width
            ).collect()
        }

    # width 2: massive collision mass — every estimate is still an upper
    # bound, and with depth 1 the bucket IS the estimate (sums to total)
    e_shallow = est_with(1, 2)
    assert sum(set(e_shallow.values())) <= total  # <=2 distinct buckets
    e_deep = est_with(4, 2)
    for t in e_deep:
        # more hash rows can only TIGHTEN the min-estimate
        assert e_deep[t] <= e_shallow[t]


def test_streaming_heavy_hitters_equals_batch(spark, tmp_path):
    from stateful_spark_streaming_spark.operators.stats import heavy_hitters_cms
    from stateful_spark_streaming_spark.streaming.pipeline import (
        run_streaming_heavy_hitters,
    )

    docs = _skewed_docs(spark)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    batches = [rows[:20], rows[20:45], rows[45:]]
    src = _land_batches(spark, tmp_path, "cms", batches, ("doc_id", "text"))
    ck = str(tmp_path / "ck_cms")
    got = run_streaming_heavy_hitters(
        spark, src, k=10, checkpoint_dir=ck, max_files_per_trigger=1
    ).collect()
    want = heavy_hitters_cms(
        spark.read.parquet(src), k=10
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and got
    # multi-batch staged log actually exercised the merge
    assert len(glob.glob(os.path.join(ck + "_counters", "*.parquet"))) > 1


def test_cms_compaction_roundtrip(spark, tmp_path):
    from stateful_spark_streaming_spark.streaming.pipeline import (
        STAGED_SINK_COMPACTION,
        compact_partial_log,
        run_streaming_heavy_hitters,
    )

    docs = _skewed_docs(spark)
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
    src = _land_batches(
        spark, tmp_path, "cmsc", [rows[:30], rows[30:]], ("doc_id", "text")
    )
    ck = str(tmp_path / "ck_cmsc")

    def run():
        return run_streaming_heavy_hitters(
            spark, src, k=10, checkpoint_dir=ck, max_files_per_trigger=1
        )

    before = sorted(map(tuple, run().collect()))
    n_before = sum(
        len(glob.glob(os.path.join(ck + d, "*.parquet")))
        for d in ("_counters", "_cands")
    )
    compact_partial_log(spark, ck + "_counters", **STAGED_SINK_COMPACTION["cms_counters"])
    compact_partial_log(spark, ck + "_cands", **STAGED_SINK_COMPACTION["cms_candidates"])
    n_after = sum(
        len(glob.glob(os.path.join(ck + d, "*.parquet")))
        for d in ("_counters", "_cands")
    )
    after = sorted(map(tuple, run().collect()))
    assert after == before and before
    assert n_after < n_before


def test_bloom_size_bits_monotone():
    assert bloom_size_bits(0) == 64
    assert bloom_size_bits(10_000) <= bloom_size_bits(100_000) <= bloom_size_bits(1_000_000)
    # the documented default bitmap (2^18) is the right size for ~26k keys
    assert bloom_size_bits(26_000) == 1 << 18


def test_bucketize_by_quantile_populations_and_nulls(spark):
    """Equi-height bucketing from the histogram, asserting the DOCUMENTED
    resolution contract: bucket populations are as equal as the histogram
    can see (lower-edge quantile estimator → ±1 bin worth around n/k at
    bin width 1/n_bins), assignment is monotone in the value, every
    bucket 0..k-1 is populated on uniform data, NULL scores get NULL
    buckets, and a score exactly on a threshold lands in the HIGHER
    bucket (>= comparison, mirroring trim's edge-keep)."""
    from collections import Counter

    from stateful_spark_streaming_spark.operators.stats import (
        bucketize_by_quantile,
    )

    rows = [(i, "s", round(i / 100.0, 4)) for i in range(100)]
    rows.append((999, "s", None))
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    out = bucketize_by_quantile(df, "v", ("source",), n_buckets=10, n_bins=100)
    got = {r["doc_id"]: r["bucket"] for r in out.collect()}
    assert got[999] is None
    pops = Counter(b for d, b in got.items() if d != 999)
    assert set(pops) == set(range(10))
    assert all(9 <= n <= 11 for n in pops.values()) and sum(pops.values()) == 100
    # monotone: sorting by value never decreases the bucket
    seq = [got[i] for i in range(100)]
    assert seq == sorted(seq)
    # threshold edge at this config: p10 resolves to the 0.09 bin's lower
    # edge, so v=0.09 sits in bucket 1 (>=) and v=0.08 in bucket 0
    assert got[9] == 1 and got[8] == 0


def test_quantile_operators_evaluate_scored_subtree_once(spark):
    """r14 optimization pin: trim_by_quantile / bucketize_by_quantile
    PERSIST their input so the scored subtree feeds both the histogram
    branch and the row-pass from ONE evaluation.  Before the persist,
    the quality-score caller's regex-tokenizer expression tree ran 4×
    (pushed isnotnull filter + projection, on each of two scans) —
    plans/r14/quality_{trim,deciles}_{before,after}.txt hold the full
    before/after.  Pin the plan shape: both branches must read an
    InMemoryTableScan of the same cached relation."""
    from stateful_spark_streaming_spark.operators.stats import (
        bucketize_by_quantile,
        trim_by_quantile,
    )

    rows = [(i, "s", round((i % 97) / 100.0, 4)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, v double")
    for out in (
        trim_by_quantile(df, "v", ("source",), q_bp=2_500),
        bucketize_by_quantile(df, "v", ("source",), n_buckets=10),
    ):
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        # threshold branch + row branch both read the cache: count the
        # "(n) InMemoryTableScan" detail headers — the formatted plan
        # names each node twice, so raw matches pass on one cached scan
        assert len(re.findall(r"\(\d+\) InMemoryTableScan", plan)) >= 2, plan
    spark.catalog.clearCache()


def test_histogram_null_filter_does_not_rederive_value_expression(spark):
    """r14 optimization pin (session 4): fixed_width_histogram drops
    NULL bins AFTER the aggregate, from a persisted summary-sized counts
    frame.  The old pre-agg ``bin IS NOT NULL`` filter was pushed below
    the projection, where Catalyst re-derived the ENTIRE value
    expression inside the Filter and computed it again in the Project —
    2× the quality-score regex tree per row for the quality_histogram /
    quality_quantiles callers
    (plans/r14/quality_histogram_{before,after}.txt; same-process A/B:
    ~2× on the histogram, ~1.4× on the quantiles).  A plain post-agg
    filter does NOT fix it — grouping-key predicates push back through
    the Aggregate — so the pin is on the plan: no Filter condition may
    re-derive the tokenizer expression, and the NULL-scored row must
    still be dropped from the counts."""
    from stateful_spark_streaming_spark.operators.text import quality_score

    rows = [(i, f"tok{i} some words here", "s") for i in range(50)] + [
        (99, None, "s")
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    scored = quality_score(df, keep_cols=("source",))
    hist = fixed_width_histogram(
        scored, F.col("quality_score"), ("source",), n_bins=20
    )
    plan = hist._sc._jvm.PythonSQLUtils.explainString(
        hist._jdf.queryExecution(), "formatted"
    )
    conditions = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("Condition :")
    ]
    assert not any("regexp_replace" in c for c in conditions), plan
    # NULL text → NULL score → NULL bin: still excluded from every count
    assert sum(r["n"] for r in hist.collect()) == 50
    spark.catalog.clearCache()

"""Property-based differential tests for the round-4 operators:
each compares the distributed implementation against a straightforward
single-threaded Python reference on Hypothesis-generated inputs.
Few examples, many rows per example — one Spark job per example."""

from __future__ import annotations

import collections

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 50)),  # (key, repeat)
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([0.05, 0.1, 0.2]),
)
def test_heavy_hitters_equals_reference(spark, spec, share):
    from mapreducewordoccurences_spark.operators.skew import heavy_hitters

    rows = [(k,) for k, rep in spec for _ in range(rep)]
    df = spark.createDataFrame(rows, ["k"]).repartition(7)
    got = {(r.k, r.cnt) for r in heavy_hitters(df, ["k"], min_share=share).collect()}

    counts = collections.Counter(k for k, in rows)
    n = len(rows)
    import math

    thresh = math.ceil(n * share)
    want = {(k, c) for k, c in counts.items() if c >= thresh}
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.floats(-1e6, 1e6, allow_nan=False), min_size=1, max_size=300),
    st.sampled_from([0.1, 0.5, 0.9, 1.0]),
)
# a subnormal next to a large |min| falls into the bucket whose
# computed lower bound (min + b·width) rounds above it
@example(
    vals=[0.0] * 4 + [-1e6] + [0.0] * 3 + [999999.9999999999] + [0.0] * 3
    + [-1.401298464324817e-45],
    q=0.1,
)
def test_selection_quantile_equals_sorted_reference(spark, vals, q):
    import math

    from mapreducewordoccurences_spark.operators.selection import exact_quantile_disc

    df = spark.createDataFrame([(v,) for v in vals], ["v"]).repartition(5)
    got = exact_quantile_disc(df, "v", q, buckets=16, direct_threshold=8)
    rank = max(1, math.ceil(len(vals) * q - 1e-9))
    want = sorted(vals)[rank - 1]
    assert got == want


@settings(max_examples=4, deadline=None)
@given(
    st.lists(st.text("ab", min_size=0, max_size=8), min_size=1, max_size=60),
    st.lists(st.text("ab", min_size=0, max_size=8), min_size=1, max_size=60),
)
def test_bloom_membership_never_false_negative(spark, present, probes):
    from mapreducewordoccurences_spark.dedup.bloom import (
        bloom_bitmap,
        bloom_params,
        with_bloom_contains,
    )

    present = list(dict.fromkeys(present))
    pdf = spark.createDataFrame([(s,) for s in present], ["k"])
    qdf = spark.createDataFrame([(s,) for s in set(probes)], ["k"])
    m, h = bloom_params(len(present), 0.05)
    bm = bloom_bitmap(pdf, "k", m, h)
    flagged = {r.k: r.bloom_maybe for r in with_bloom_contains(qdf, "k", bm, m, h).collect()}
    for s in set(probes):
        if s in set(present):
            assert flagged[s] is True  # no false negatives, ever


@settings(max_examples=5, deadline=None)
@given(
    st.lists(  # observation log: (key, attr, t, unique tb added below)
        st.tuples(st.integers(0, 5), st.sampled_from("ABC"), st.integers(0, 20)),
        min_size=1,
        max_size=60,
    )
)
def test_scd2_equals_pandas_reference(spark, obs):
    from mapreducewordoccurences_spark.operators.cdc import scd2_build

    rows = [(k, a, t, i) for i, (k, a, t) in enumerate(obs)]
    df = spark.createDataFrame(rows, "k int, attr string, t long, tb long").repartition(5)
    got = {
        (r.k, r.version): (r.attr, r.valid_from, r.valid_to, r.is_current,
                           r.n_observations)
        for r in scd2_build(df, "k", "attr", "t", "tb").collect()
    }

    # reference: sort per key, walk runs
    want = {}
    bykey = collections.defaultdict(list)
    for k, a, t, tb in rows:
        bykey[k].append((t, tb, a))
    for k, items in bykey.items():
        items.sort()
        runs = []  # (attr, valid_from, n)
        for t, tb, a in items:
            if runs and runs[-1][0] == a:
                runs[-1][2] += 1
            else:
                runs.append([a, t, 1])
        for i, (a, vf, n) in enumerate(runs):
            vt = runs[i + 1][1] if i + 1 < len(runs) else None
            want[(k, i + 1)] = (a, vf, vt, vt is None, n)
    assert got == want


@settings(max_examples=5, deadline=None)
@given(
    st.dictionaries(st.integers(0, 30), st.integers(0, 5), max_size=25),
    st.dictionaries(st.integers(0, 30), st.integers(0, 5), max_size=25),
)
def test_snapshot_diff_equals_reference(spark, old_map, new_map):
    from mapreducewordoccurences_spark.operators.cdc import snapshot_diff

    old_rows = [(k, v) for k, v in old_map.items()]
    new_rows = [(k, v) for k, v in new_map.items()]
    if not old_rows or not new_rows:
        return
    old = spark.createDataFrame(old_rows, "k int, v int")
    new = spark.createDataFrame(new_rows, "k int, v int")
    got = {
        r.k: r.change_type
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    want = {}
    for k in set(old_map) | set(new_map):
        if k not in old_map:
            want[k] = "insert"
        elif k not in new_map:
            want[k] = "delete"
        elif old_map[k] == new_map[k]:
            want[k] = "unchanged"
        else:
            want[k] = "update"
    assert got == want


# ---- round 5: PII pattern portability differential ------------------

@given(
    st.lists(
        st.text(
            alphabet="abXY019 .@-%_+:/,\n\t",
            min_size=0,
            max_size=60,
        ),
        min_size=1,
        max_size=24,
    )
)
@settings(max_examples=20, deadline=None)
def test_pii_counts_match_python_re(spark, texts):
    """For ANY string over a PII-relevant alphabet, Spark's
    regexp_count per pattern must equal Python re.findall counts —
    the patterns are written in the Java-regex ∩ RE2 ∩ Python-re
    common dialect, and this differential locks that claim on
    adversarial inputs (emails butted against IPs, dangling @, digit
    runs split by separators)."""
    import re as _re

    from mapreducewordoccurences_spark.functions.text import (
        PII_PATTERNS,
        pii_counts,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    cols = pii_counts("t")
    got = {
        r["i"]: {k: r[k] for k in PII_PATTERNS}
        for r in df.select("i", *[cols[k].alias(k) for k in PII_PATTERNS]).collect()
    }
    for i, t in enumerate(texts):
        for kind, pat in PII_PATTERNS.items():
            want = len(_re.findall(pat, t))
            assert got[i][kind] == want, (kind, t, got[i][kind], want)

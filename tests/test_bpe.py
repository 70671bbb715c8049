"""Differential test: distributed BPE learner vs a pure-Python
reference implementing the same rule (most frequent adjacent pair,
count-desc/pair-asc tiebreak, greedy left-to-right merge)."""

from __future__ import annotations

import collections
import re


def _ref_bpe(texts: list[str], num_merges: int, min_pair_count: int = 2):
    wf = collections.Counter(
        w for t in texts for w in re.findall(r"[a-z0-9]+", t.lower())
    )
    vocab = {w: list(w) for w in wf}
    merges = []
    for _ in range(num_merges):
        pairs = collections.Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wf[w]
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_pair_count:
            break
        merges.append((left, right, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges


def test_bpe_matches_reference_small(spark):
    from mapreducewordoccurences_spark.functions.bpe import learn_bpe_merges

    texts = [
        "the cat sat on the mat",
        "the hat and the bat",
        "that cat that hat",
        "thin thing there then",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = learn_bpe_merges(df, "text", num_merges=8)
    want = _ref_bpe(texts, 8)
    assert got == want
    # 'th' must be the first merge in this corpus
    assert got[0][0] == "t" and got[0][1] == "h"


def test_bpe_on_testdata_is_deterministic_and_plausible(spark):
    from mapreducewordoccurences_spark.functions.bpe import bpe_merge_table
    from mapreducewordoccurences_spark.sources.readers import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(200)
    t1 = bpe_merge_table(spark, docs, num_merges=5).collect()
    t2 = bpe_merge_table(spark, docs.repartition(7), num_merges=5).collect()
    assert [tuple(r) for r in t1] == [tuple(r) for r in t2]  # partition-invariant
    assert len(t1) == 5
    assert all(r["pair_count"] > 0 and r["merged"] == r["left"] + r["right"] for r in t1)
    # merged symbols grow: later merges may combine earlier outputs
    assert all(len(r["merged"]) >= 2 for r in t1)

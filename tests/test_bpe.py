"""Trained BPE tokenizer (operators/bpe.py, t10b): exact-equality gates
against an independent pure-Python reference — training (merge list)
and application (per-word segmentation) both — plus the distributed
stats query and its determinism across runs.

The reference below re-implements Sennrich-style BPE from the paper's
description with its own data structures (no shared helpers beyond the
module's public training core being CALLED, never trusted: the merge
lists are compared against _ref_train, which is independent code).
"""

import pandas as pd
import pytest

from deimos_spark.operators import bpe


# ------------------------------------------------- independent reference

def _ref_train(word_freqs, num_merges):
    vocab = {}
    for w, f in word_freqs:
        key = tuple(w) + ("</w>",)
        vocab[key] = vocab.get(key, 0) + f
    merges = []
    for _ in range(num_merges):
        pairs = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = (
                    pairs.get((syms[i], syms[i + 1]), 0) + f
                )
        if not pairs:
            break
        # most frequent; ties lexicographic
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        merges.append(best)
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i < len(syms) - 1
                    and (syms[i], syms[i + 1]) == best
                ):
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def _ref_segment(word, merges):
    syms = list(word) + ["</w>"]
    ranks = {m: i for i, m in enumerate(merges)}
    while True:
        cand = [
            (ranks[(syms[i], syms[i + 1])], i)
            for i in range(len(syms) - 1)
            if (syms[i], syms[i + 1]) in ranks
        ]
        if not cand:
            break
        _, i = min(cand)
        syms = syms[:i] + [syms[i] + syms[i + 1]] + syms[i + 2 :]
    if syms[-1] == "</w>":
        syms = syms[:-1]
    else:
        syms[-1] = syms[-1][: -len("</w>")] if syms[-1].endswith("</w>") else syms[-1]
    return [s for s in syms if s]


CORPUS = [
    ("low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3).split(),
    "the quick brown fox jumps over the lazy dog the the the".split(),
    "aaaa aaab aaba abaa baaa aa ab ba bb aaaa aaaa".split(),
]
FREQS = [
    sorted(
        ((w, ws.count(w)) for w in set(ws)),
        key=lambda kv: (-kv[1], kv[0]),
    )
    for ws in CORPUS
]


@pytest.mark.parametrize("freqs", FREQS, ids=["sennrich", "english", "ab"])
@pytest.mark.parametrize("n", [1, 5, 30])
def test_training_matches_reference(freqs, n):
    assert bpe.train_merges_from_freqs(freqs, n) == _ref_train(freqs, n)


@pytest.mark.parametrize("freqs", FREQS, ids=["sennrich", "english", "ab"])
def test_segmentation_matches_reference(freqs):
    merges = _ref_train(freqs, 25)
    ranks = {m: i for i, m in enumerate(merges)}
    words = [w for w, _ in freqs] + ["unseenword", "xyzzy", "a", ""]
    for w in words:
        if not w:
            continue
        assert bpe.segment_word(w, ranks) == _ref_segment(w, merges), w


def test_segmentation_reconstructs_word():
    merges = _ref_train(FREQS[0], 40)
    ranks = {m: i for i, m in enumerate(merges)}
    for w in ("lowest", "newer", "wide", "antidisestablishment"):
        assert "".join(bpe.segment_word(w, ranks)) == w


def test_spark_stats_match_local(spark):
    rows = [
        ("en", "the lowest newest low low"),
        ("en", "newest newest wide"),
        ("de", "der die das der"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    merges = bpe.train_bpe(df, "text", num_merges=20, vocab_words=100)

    # independent expectation
    all_words = [w for _, t in rows for w in t.lower().split()]
    freqs = sorted(
        ((w, all_words.count(w)) for w in set(all_words)),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert merges == _ref_train(freqs, 20)

    got = {
        r.lang: (r.n_words, r.total_pieces, r.avg_pieces_per_word)
        for r in bpe.bpe_token_stats(df, merges, "text", "lang").collect()
    }
    exp = {}
    for lang in ("en", "de"):
        ws = [w for lg, t in rows if lg == lang for w in t.lower().split()]
        pieces = [len(_ref_segment(w, merges)) for w in ws]
        exp[lang] = (
            len(ws),
            sum(pieces),
            round(sum(pieces) / len(ws), 4),
        )
    assert got == exp


def test_stats_reject_column_group_col(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("en", "low")], "lang string, text string")
    with pytest.raises(TypeError, match="group_col must be a column name"):
        bpe.bpe_token_stats(df, [], "text", F.col("lang"))


def test_query_deterministic(spark):
    from deimos_spark.queries import all_queries, clear_plan_cache

    spec = all_queries()["t10b_bpe_real"]
    a = spec.builder(spark, "/root/testdata/sf0.001").collect()
    clear_plan_cache()
    b = spec.builder(spark, "/root/testdata/sf0.001").collect()
    assert a == b
    assert len(a) > 0
    assert all(r.avg_pieces_per_word >= 1.0 for r in a)


def test_distinct_word_tokenize_once(spark):
    """The application path segments each distinct word once — the
    segmented relation's row count equals distinct words, not corpus
    words."""
    df = spark.createDataFrame(
        [("x", "a a a a b b c")], "lang string, text string"
    )
    words = bpe.words_relation(df, "text")
    seg = bpe.segmented_words(words, [("a", "</w>")])
    assert seg.count() == 3  # a, b, c — not 7
    got = {r.word: list(r.pieces) for r in seg.collect()}
    assert got["a"] == ["a"]  # merged with end marker, marker stripped
    assert got["b"] == ["b"]

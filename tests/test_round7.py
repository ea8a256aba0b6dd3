"""Round-7 additions: frozen-vocab BPE apply (exact oracle) and the
id-ranked integer PQ-ADC pipeline. The BPE closed form the DuckDB oracle uses is proven here
against a reference Python BPE apply, property-style."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

FROZEN = [("t", "h"), ("th", "e"), ("e", "r")]


def bpe_apply_py(word: str, merges=FROZEN) -> list[str]:
    """Reference BPE application: for each merge in rank order, one
    greedy left-to-right non-overlapping pass over the symbol list."""
    syms = list(word)
    for a, b in merges:
        out: list[str] = []
        for s in syms:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        syms = out
    return syms


def n_sub_closed_form(w: str) -> int:
    """The DuckDB oracle's replace()-counting arithmetic, verbatim:
    each merge application drops the symbol count by one; 'er' merges
    are discounted by 'ther' occurrences (their 'e' was consumed by
    the (th,e) merge)."""
    def cnt(s: str, p: str) -> int:
        return (len(s) - len(s.replace(p, ""))) // len(p)

    return (
        len(w)
        - cnt(w, "th")
        - cnt(w, "the")
        - (cnt(w, "er") - cnt(w, "ther"))
    )


@given(st.text(alphabet="therx", min_size=0, max_size=24))
@settings(max_examples=2000, deadline=None)
def test_bpe_closed_form_matches_reference(w):
    """The oracle's closed form must equal the true greedy fold for
    EVERY word over the adversarial alphabet (only letters that
    participate in the frozen merges, maximizing interactions)."""
    assert n_sub_closed_form(w) == len(bpe_apply_py(w))


@given(st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=0, max_size=16))
@settings(max_examples=500, deadline=None)
def test_bpe_closed_form_matches_reference_full_alphabet(w):
    assert n_sub_closed_form(w) == len(bpe_apply_py(w))


def test_bpe_apply_frozen_matches_python(spark):
    """The Spark merge_fold pipeline (shared with the trainer) must
    produce the reference symbolization for words covering every
    interaction: th inside the, er after the, overlapping repeats."""
    from php_etl_spark.llm.text import bpe_apply_frozen

    words = [
        "the", "ther", "there", "thethe", "ererther", "tther", "thher",
        "erthe", "rether", "ttthhh", "ththe", "theer", "", "x", "er",
    ]
    words = [w for w in words if w]  # split('') of '' is [''] — engine
    # tokens are never empty (tokens() filters them), so skip ''
    df = spark.createDataFrame([(w,) for w in words], ["w"])
    got = {
        r["w"]: list(r["syms"])
        for r in bpe_apply_frozen(df, FROZEN).collect()
    }
    for w in words:
        assert got[w] == bpe_apply_py(w), (w, got[w], bpe_apply_py(w))


def test_pq_codebook_by_id_shape(spark):
    """Integer codebook: m subspaces x n_cells cells, each centroid a
    sub_d-long list of quantized BIGINTs from the id-ranked donors."""
    from php_etl_spark.llm.similarity import QUANT, pq_codebook_by_id

    emb = spark.createDataFrame(
        [(i, [float(i + j) / 10 for j in range(8)]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    cb = pq_codebook_by_id(emb, m=4, n_cells=3)
    assert len(cb) == 4 and all(len(sub) == 3 for sub in cb)
    assert all(len(c) == 2 for sub in cb for c in sub)
    # cell 1 of sub 0 is the quantized first subvector of vec_id 0
    assert cb[0][0] == [round(0.0 * QUANT), round(0.1 * QUANT)]


def test_pq_adc_exact_agrees_with_bruteforce_top1(spark):
    """On a corpus where the query has an exact duplicate, the ADC
    shortlist + exact rescore must rank that duplicate first — the
    no-false-negative sanity the recall pytest asserts for the float
    path, replayed on the integer path."""
    import pyspark.sql.functions as F

    from php_etl_spark.llm.similarity import ann_topk_pq_adc_exact

    vecs = [(i, [float((i * 7 + j * 3) % 11) for j in range(16)]) for i in range(40)]
    vecs.append((100, list(vecs[0][1])))  # exact duplicate of vec 0
    emb = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") == 100)
    top = (
        ann_topk_pq_adc_exact(emb, queries, m=4, n_cells=8, k=3, oversample=10)
        .filter(F.col("rank") == 1)
        .collect()
    )
    assert len(top) == 1 and top[0]["neighbor_id"] == 0
    assert top[0]["cosine"] == pytest.approx(1.0)

"""Edge-case corpus through every documents-table query, Spark vs DuckDB:
empty text, single token, sub-shingle docs, unicode, punctuation-only.
The driver only checks sf0.01 (no degenerate docs); this guards the
sequence(1,0)/slice(…,0,…) class of cross-engine divergences."""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd
import pytest

from rsmetacheck_spark.queries import REGISTRY

EDGE_DOCS = pd.DataFrame({
    "doc_id": range(8),
    "text": [
        "",                       # empty
        "one",                    # 1 token (< shingle width)
        "two tokens",             # 2 tokens
        "exactly three tokens",   # boundary
        "   ",                    # whitespace only
        "…—!!! ??? ***",          # no alnum at all
        "Ünïcödé tèxt with the and of words naturally flowing here ok",
        ("the quick brown fox jumps over the lazy dog " * 6).strip(),
    ],
    "lang": ["en", "en", "de", "fr", "zz", "zz", "es", "en"],
    "source": ["s0", "s0", "s1", "s1", "s2", "s2", "s3", "s3"],
})
EDGE_DOCS["n_chars"] = EDGE_DOCS["text"].str.len().astype("int64")

DOC_QUERIES = (
    "q07_doc_rule_hits", "q08_keep_rate_by_lang", "q09_langid_vote",
    "q10_token_stats_by_source", "q11_top_ngrams", "q12_fingerprints",
    "q14_rollup_docs", "q20_quality_score", "q21_median_chars_by_source",
    "q22_rolling_hash", "dd01_exact_groups", "dd02_minhash_lsh_pairs",
    "dd03_jaccard_pairs", "dd04_simhash", "dd10_span_coverage",
    "dd12_weighted_jaccard", "dd13_containment", "dd15_tfidf_pairs",
    "dd16_source_overlap", "dd17_source_containment",
    "q23_tfidf_terms", "q24_bigram_pmi", "q25_vocab_coverage",
    "q26_repeat_collapse", "q27_contamination", "q28_mixing_weights",
    "q29_packing_histogram", "q30_weighted_sample", "q31_chunk_windows",
    "q61_gopher_repetition", "q63_bpe_train3",
)


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    EDGE_DOCS.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return str(d)


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_edge_query_matches_duckdb(spark, edge_dir, name):
    fn, sql = REGISTRY[name]
    sdf = fn(spark, edge_dir)
    scols = sorted(sdf.columns)
    srows = sorted(
        (tuple(_norm(r[c]) for c in scols) for r in (row.asDict() for row in sdf.collect())),
        key=repr,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{edge_dir}/documents.parquet'"
    )
    rel = con.sql(sql)
    dcols = [x[0] for x in rel.description]
    idx = sorted(range(len(dcols)), key=lambda i: dcols[i])
    drows = sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rel.fetchall()), key=repr
    )
    assert sorted(dcols) == scols
    assert srows == drows, f"{name}: {srows[:3]} vs {drows[:3]}"


def test_q31_chunk_invariants(spark):
    """Window algebra: every token is covered, consecutive chunks overlap
    by exactly len-stride, and only the last chunk may be short."""
    from rsmetacheck_spark.queries import (
        _CHUNK_LEN, _CHUNK_STRIDE, REGISTRY, _TOKS_SPARK,
    )

    sf = "/root/testdata/sf0.001"
    chunks = {}
    for r in REGISTRY["q31_chunk_windows"][0](spark, sf).collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_idx] = r.n_chunk_tokens
    toks = _TOKS_SPARK.format(c="text")
    n_tokens = {
        r.doc_id: r.n for r in
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter("doc_id < 200").selectExpr("doc_id", f"size({toks}) AS n")
        .collect()
    }
    for doc_id, n in n_tokens.items():
        got = chunks.get(doc_id, {})
        if n == 0:
            assert got == {}, doc_id
            continue
        k = len(got)
        assert sorted(got) == list(range(k)), doc_id
        # full coverage: last chunk reaches the end of the token stream
        assert (k - 1) * _CHUNK_STRIDE + got[k - 1] == n, doc_id
        # all but the last chunk are full-length
        assert all(got[i] == _CHUNK_LEN for i in range(k - 1)), doc_id

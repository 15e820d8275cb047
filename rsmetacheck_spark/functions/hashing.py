"""Cross-engine-portable hashing primitives for dedup/fingerprinting.

Everything is built on md5-of-string -> lowercase hex, which Spark and
DuckDB compute identically — so every dedup operator here has an exact
ANSI-SQL oracle (the driver's DuckDB correctness gate). xxhash64/murmur are
Spark-private and deliberately avoided in result-bearing columns; they are
still fine for *internal* salting (thresholds.N_SALT) where the value never
reaches output.

Scale note: minhash signatures are fixed-width (NUM_HASHES small strings)
per doc — the LSH band shuffle moves (band_key, doc_id) pairs only, never
document text.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NUM_HASHES = 128    # minhash permutations (production-scale: 128/16 bands
NUM_BANDS = 16      # -> 8 rows/band, LSH threshold (1/16)^(1/8) ~= 0.71)
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
SHINGLE_N = 3       # word-shingle width
BAND_CAP = 100      # hot-band guard: a band bucket holding > BAND_CAP docs
                    # (a viral template) would go quadratic inside one key;
                    # such buckets are dropped, like dd03's DF<=100 guard


def tokens(text: Column) -> Column:
    """Canonical tokenization (same as perplexity.tokenize / rules.tokens)."""
    return F.filter(F.split(F.lower(text), "[^a-z0-9]+"), lambda x: x != F.lit(""))


def shingles(col_name: str, n: int = SHINGLE_N) -> Column:
    """Distinct word n-grams as strings ([] for docs shorter than n —
    Spark's sequence(1,0) is [1,0], never feed it to slice).

    Built as nested zip_with over n shifted slices: HOF lambdas are
    interpreted, and a transform(sequence, i -> slice(t, i, n)) form
    copies O(len) array elements per position (O(len²) per doc) — the
    zip_with form's per-element work is O(1) concat (measured 4× on the
    sf0.1 trigram build)."""
    width = f"size({col_name}) - {n - 1}"
    expr = f"slice({col_name}, {n}, {width})"
    for j in range(n - 1, 0, -1):
        expr = (
            f"zip_with(slice({col_name}, {j}, {width}), {expr},"
            f" (a{j}, b{j}) -> concat(a{j}, ' ', b{j}))"
        )
    return F.expr(
        f"CASE WHEN size({col_name}) >= {n} THEN array_distinct({expr})"
        f" ELSE CAST(array() AS array<string>) END"
    )

"""Shared portable primitives for the LLM-pipeline operators.

Everything here must compute IDENTICALLY in Spark and DuckDB so the
driver's value-hash gate passes:

  * `portable_hash`: md5-hex → bigint (first 15 hex digits = 60 bits).
    Spark: conv(substring(md5(x),1,15),16,10)::long
    DuckDB: ('0x'||substr(md5(x),1,15))::bigint
  * word splitting: regex \\s+ split with empty tokens filtered
  * 3-gram word shingles
  * dot/cosine: sequential double fold (Spark aggregate HOF ≡ DuckDB
    list_dot_product on DOUBLE[]) — never float32, never multi-partition
    double summation (order-dependent).
"""

from __future__ import annotations

from pyspark.sql import functions as F

MOD = 2147483647  # 2^31 - 1: keeps a*h+b inside int64


def portable_hash(col):
    """Deterministic 60-bit integer hash of a string, identical in
    Spark and DuckDB (md5 → hex prefix → int)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_portable_hash(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def words_col(col):
    """Whitespace tokens, empties filtered (matches DuckDB
    list_filter(str_split_regex(...)))."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != F.lit(""))


SQL_WORDS = "list_filter(str_split_regex({expr}, '\\s+'), w -> w <> '')"


def shingles_col(words, n: int = 3):
    """Word n-gram shingle strings from a words array (space-joined)."""
    idx = F.sequence(F.lit(1), F.greatest(F.size(words) - (n - 1), F.lit(0)))
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def sql_shingles(words_expr: str, n: int = 3) -> str:
    return (
        f"list_transform(generate_series(1, greatest(len({words_expr}) - {n - 1}, 0)), "
        f"i -> array_to_string(list_slice({words_expr}, i, i + {n - 1}), ' '))"
    )


def dot_col(a, b):
    """Sequential double dot product (deterministic fold order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine_col(a, b):
    return dot_col(a, b) / (F.sqrt(dot_col(a, a)) * F.sqrt(dot_col(b, b)))


def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


def sql_cosine(a: str, b: str) -> str:
    return (
        f"({sql_dot(a, b)} / "
        f"(sqrt({sql_dot(a, a)}) * sqrt({sql_dot(b, b)})))"
    )


def spread(df, *keys):
    """Repartition to the session's core count, used right before
    Python-heavy (Arrow) stages.

    Without keys it is a round-robin repartition, for `mapInPandas`
    codec stages. The driver testdata ships each table as ONE tiny
    parquet file (documents.parquet at sf0.1 is 0.6 MB), so the scan is
    a single split and everything downstream of it — including a
    per-image decode — would run on ONE core. In production the payload
    scan has hundreds of natural splits and this is redundant; here it
    shuffles a handful of id/payload rows once, orders of magnitude less
    work than the decode it parallelizes. (Round-6 fix: the PNG mix-in
    made single-threaded decode visible — p_image_decode 1.2 s → 7.9 s —
    because the whole codec family inherited the 1-split scan.)

    With keys it hash-partitions on them, for a following
    `groupBy(*keys).applyInPandas`. The groupBy reuses this
    partitioning, so no second exchange appears, and an explicit-count
    repartition is exempt from AQE coalescing. The groupBy's own
    ENSURE_REQUIREMENTS shuffle is not: AQE folds its few small
    partitions into one, and every group (p_knn_hnsw's four shard
    indexes) then runs one after another in a single task. Keys hash
    onto partitions, so two groups may still share one."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def ordered(df, *cols):
    """Final sort of a Python-pipeline result: one partition, sorted
    inside it.

    `orderBy` plans a range-partitioning exchange, and its
    `RangePartitioner` first runs a sampling job over the exchange's
    child, so a `mapInPandas` chain under it runs twice. A single
    partition needs no range bounds, so the Python stage runs once. It
    stays correct at any scale: the entry's result is collected to the
    driver anyway, and one sorted partition is what that collect
    receives. Entries with a limit keep `orderBy(...).limit(k)`
    (TakeOrderedAndProject takes no sample)."""
    return df.repartition(1).sortWithinPartitions(*cols)


def py_portable_hash(s: str) -> int:
    """Driver/worker-side twin of `portable_hash` (md5 hex prefix ->
    60-bit int) for code that must compute the SAME hash outside a
    Spark plan — e.g. probing a bloom sidecar from the driver."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)

"""Engine-portable column functions.

The correctness oracle runs the same logic in DuckDB, so the helpers
here are restricted to constructs with bit-identical semantics in both
engines (md5 hex, integer arithmetic, IEEE double ops in a fixed
order). No Python UDFs — everything is a Column expression that stays
inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# 2^31 - 1, Mersenne prime: keeps a*h+b < 2^62 (no 64-bit overflow in
# either engine, and no ANSI overflow error in Spark 4).
MERSENNE31 = 2_147_483_647


def hash60(col: Column | str) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, as a bigint.

    DuckDB equivalent: CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT).
    Used as the base hash for MinHash/SimHash so signatures are
    oracle-checkable across engines.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_hash60(expr: str) -> str:
    """DuckDB SQL text of :func:`hash60` over ``expr``."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash60_hi(col: Column | str) -> Column:
    """Second independent portable 60-bit hash: hex chars 17-31 of the
    SAME md5 digest (the half :func:`hash60` never reads), as a bigint.

    One md5 per value yields 120 usable bits across the pair —
    operators that need more than 60 hash bits per key (64-bit SimHash)
    take the extra bits here instead of a second digest computation.

    DuckDB equivalent: CAST(concat('0x', substr(md5(x),17,15)) AS BIGINT).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 17, 15), 16, 10).cast("long")


def sql_hash60_hi(expr: str) -> str:
    """DuckDB SQL text of :func:`hash60_hi` over ``expr``."""
    return f"CAST(concat('0x', substr(md5({expr}), 17, 15)) AS BIGINT)"


def minhash_perm(h: Column, perm: Column) -> Column:
    """Universal-hash permutation for MinHash: ((2j+1)*(h%p) + (j*7919+12345)) % p.

    Deterministic in both engines; ``h`` is :func:`hash60` output.
    """
    a = perm * 2 + 1
    b = perm * 7919 + 12345
    return (a * (h % MERSENNE31) + b) % MERSENNE31


def sql_minhash_perm(h_expr: str, perm_expr: str) -> str:
    return (
        f"(({perm_expr}*2+1) * ({h_expr} % {MERSENNE31}) "
        f"+ ({perm_expr}*7919+12345)) % {MERSENNE31}"
    )


def tokens(text: Column | str) -> Column:
    """Lowercased alnum tokens; empty strings filtered.

    DuckDB: list_filter(string_split_regex(lower(x),'[^a-z0-9]+'), t -> t <> '')
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda t: t != "")


SQL_TOKENS = "list_filter(string_split_regex(lower({x}), '[^a-z0-9]+'), t -> t <> '')"


def dot_double(a: Column, b: Column) -> Column:
    """Sequential-double dot product of two float arrays.

    Casts each element to double before multiply so the arithmetic
    matches DuckDB's double-list kernels; accumulation is
    left-to-right (F.aggregate), the same order DuckDB iterates lists.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision (see :func:`dot_double`)."""
    return dot_double(a, b) / (F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b)))


def zorder_key(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ints already
    scaled into [0, 2^bits): bit i of each input lands at output bits
    2i/2i+1, so rows close in BOTH dimensions get close keys.

    Sorting/range-partitioning by this key gives files whose per-file
    min/max spans are tight in both columns at once — the layout that
    makes parquet row-group stats prune multi-dimensional predicates,
    where a single-column sort only prunes its own column. Pure
    bitwise Column expression: codegen'd, no UDF.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            .bitwiseOR(F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i + 1))
            .bitwiseOR(F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i))
        )
    return z


def conf_bytes(spark, key: str) -> int:
    """A byte-size conf in bytes, parsed as Spark parses it
    (``JavaUtils.byteStringAsBytes``): ``134217728``, ``128MB``, ``1g``
    and ``64k`` are all legal spellings."""
    return int(
        spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
        .byteStringAsBytes(spark.conf.get(key))
    )


def fan_out(df):
    """Spread a narrow scan across the cluster before an explode-heavy
    map stage — scale-adaptively (r10, guide §2.4).

    A small parquet table arrives as ONE input split (default
    maxPartitionBytes 128 MB), so everything upstream of the first
    shuffle — explode, substr, hashing — runs on a single core no
    matter how many the session has; measured 6.5x on the sf0.1
    char-shingle chain (PERF_NOTES r10.14). The repartition is
    conditional on the SCAN's split count, not on a tuned constant: a
    production-size input already has >= defaultParallelism splits and
    the call is a no-op, so nothing here is local-mode tuning — and
    when it does fire, the relation is by construction smaller than
    one split, so the added shuffle moves < 128 MB once.

    Row-level results are unaffected (repartition permutes rows;
    every caller feeds set/aggregate semantics downstream).

    Probe contract (r10 ADVICE): pass SCAN-LEVEL inputs — a freshly
    read file source, or at most narrow projections/filters over one.
    The split count is derived from the scan's input FILES (an upper
    bound, sum of per-file ceil(size/maxPartitionBytes) — file packing
    can only merge below it, so "upper bound < parallelism" implies
    the scan is narrow and firing is safe, while at production file
    counts the bound exceeds parallelism and the call is a structural
    no-op). Only when the frame exposes no input files (in-memory
    relations, post-shuffle frames) or a file's size cannot be read
    (a non-local URI) does the probe fall back to
    ``df.rdd.getNumPartitions()`` — which on a frame with upstream
    shuffles EXECUTES those stages under AQE, the misuse the contract
    exists to prevent.
    """
    import os

    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:  # pragma: no cover — probe is best-effort
        files = []
    if files:
        mpb = conf_bytes(df.sparkSession, "spark.sql.files.maxPartitionBytes")
        splits_upper = 0
        try:
            for f in files:
                path = f.removeprefix("file://").removeprefix("file:")
                splits_upper += max(1, -(-os.path.getsize(path) // mpb))
                if splits_upper >= p:
                    return df
            return df.repartition(p)
        except OSError:
            pass  # non-local / unreadable file: ask the scan instead
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def _parse_ddl(schema):
    from pyspark.sql import types as T

    if isinstance(schema, T.StructType):
        return schema
    return T._parse_datatype_string(schema)


def empty_df(spark, schema):
    """Empty frame as a pure-JVM relation.

    ``spark.createDataFrame([], schema)`` parallelizes the (empty!)
    list into a defaultParallelism-slice PythonRDD, so EVERY downstream
    action scans it with one Python-worker round trip per slice —
    measured 0.39 s per action at 32 cores, with worker creation
    serialized behind the SparkEnv lock (r11 thread dump: 26/32 tasks
    blocked in PythonRunner reads). ``spark.range(0)`` + typed null
    casts is a JVM LocalRelation: zero Python workers, one empty task.
    """
    from pyspark.sql import functions as F

    st = _parse_ddl(schema)
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields]
    )


def local_rows(spark, rows, schema):
    """Small driver-made table with a SIZE-derived slice count.

    ``spark.createDataFrame(rows, schema)`` parallelizes into
    defaultParallelism slices, so every action over a 1-row marker or
    seed table costs one Python-worker round trip PER CORE (~0.45 s per
    action at 32 cores, workers created behind the global SparkEnv
    lock — see :func:`empty_df`). The cost recurs per ACTION, and the
    per-batch drains scan their marker/seed frames every batch. One
    slice per 50k rows keeps the same createDataFrame semantics
    (schema, nullability, row values — pytest-pinned) at ~2.5x less
    fixed cost; the bounded driver fast paths (<= 200k rows by their
    gates) land on a handful of slices.
    """
    rows = list(rows)
    slices = max(1, -(-len(rows) // 50_000))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), _parse_ddl(schema)
    )


def finalize_released(out, *intermediates):
    """Materialize ``out`` eagerly (localCheckpoint) and UNPERSIST the
    cached intermediates that fed it — the house cache-lifecycle rule
    (r5 brief #4): an operator that persists a reused subtree must not
    return while the persist is still registered, because the caller
    has no handle to release it and a long-lived service session
    accumulates executor storage until eviction pressure (the creep
    class ADVICE r4 first flagged in lsh_probe_dedup).

    The eager checkpoint runs the plan ONCE (the same work the caller's
    first action would have run), pins the — result-sized — blocks
    under ContextCleaner's GC-managed lifetime instead of the cache
    manager's unpersist-or-never one, and lets every intermediate go
    immediately. tests/test_registry_cache_hygiene.py asserts the cache
    manager is empty after every registry query as the regression gate.
    """
    out = out.localCheckpoint(eager=True)
    for df in intermediates:
        df.unpersist()
    return out

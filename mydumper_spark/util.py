"""Shared execution utilities."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_DEC38 = T.DecimalType(38, 0)


def packed_key(
    df: DataFrame, fields: "list[tuple[str, int, int]]",
) -> "tuple[Column, Callable[[Column], list[Column]]]":
    """One key that orders like ``struct(fields)``, so the ``min``/``max``
    of a tuple (an arg-min/max) is a HashAggregate, not the Sort +
    SortAggregate that a struct's immutable aggregation buffer plans.

    Each field ``(column, lo, hi)`` of ``df`` is one mixed-radix digit,
    ``v - lo`` for a value in ``[lo, hi]`` (callers clamp what they cannot
    bound) and -1 for NULL, which sorts first as in a struct. The key is a
    BIGINT when the product of the field ranges, NULL included, fits under
    2^63, else a DECIMAL(38,0). ``decode(aggregated_key)`` gives the fields
    back as Columns of their input types. A non-integer field makes the key
    ``struct(fields)`` instead, with the same ``decode``."""
    names = [c for c, _, _ in fields]
    types = [df.schema[c].dataType for c in names]
    if not all(isinstance(t, _INTEGRAL) for t in types):
        key = F.struct(*[F.col(c).alias(f"f{i}") for i, c in enumerate(names)])
        return key, lambda k: [k[f"f{i}"] for i in range(len(names))]

    radix = [hi - lo + 2 for _, lo, hi in fields]
    # place[i]: the weight of digit i, the product of the radices after it
    place = [1] * len(fields)
    for i in range(len(fields) - 2, -1, -1):
        place[i] = place[i + 1] * radix[i + 1]
    span = place[0] * radix[0]
    if span > 10 ** 38:
        raise ValueError(f"packed key needs {span} values; DECIMAL(38,0) "
                         "holds 10^38")
    # every digit sum lies in (-span, span), so BIGINT needs span <= 2^63
    key_t = T.LongType() if span <= 2 ** 63 else _DEC38

    def const(n: int, t: T.DataType = key_t) -> Column:
        return F.lit(str(n)).cast(t)

    key = None
    for (c, lo, _), r in zip(fields, radix):
        v = F.col(c).cast(key_t)
        digit = F.coalesce(v - const(lo) if lo else v, const(-1))
        key = digit if key is None else key * const(r) + digit

    def decode(k: Column) -> "list[Column]":
        # shifted so a NULL digit is 0; then top-down, so every quotient is
        # one digit (below 2^64 + 2) that the DECIMAL(38,6) result of
        # decimal division holds exactly; an integer `div` of a
        # DECIMAL(38,0) can silently return garbage
        rest = k.cast(_DEC38) + const(sum(place), _DEC38)
        slots = []
        for p in place[:-1]:
            below = F.pmod(rest, const(p, _DEC38))
            slots.append((rest - below) / const(p, _DEC38))
            rest = below
        slots.append(rest)
        return [F.when(s != 0, s + const(lo - 1, _DEC38)).cast(t)
                for s, (_, lo, _), t in zip(slots, fields, types)]

    return key, decode


def ensure_min_partitions(
    df: DataFrame, min_parts: int | None = None, min_bytes: int = 0,
    spread_cols: "list[str] | None" = None,
) -> DataFrame:
    """Parallelism floor for heavy per-row compute.

    A small table often arrives as one file with one row group → one scan
    partition, which serializes hashing/shingling on a single core no matter
    how many are available. Repartition up-front when (and only when) the
    source has fewer splits than cores: the shuffle moves at most what one
    core would otherwise chew through alone, and on any well-formed large
    source (many files / row groups) this is a no-op — the per-table
    parallelism-cap logic of the reference (mydumper_chunks.c:400-412),
    inverted into a floor.

    ``min_bytes`` (optional): skip the spread when the optimizer's input
    size estimate is below it — for MODERATE per-row work (e.g. one row
    hash) a sub-MB table finishes on one core faster than an extra
    exchange stage schedules, while truly heavy per-row operators
    (shingling, k-gram explode) should keep the default 0 and spread even
    tiny inputs. Callers pick the threshold from their per-byte cost; any
    production-scale input exceeds every sane threshold, so this only
    prunes overhead at bench/test scale.

    The spread hash-partitions on a deterministic full-row key,
    ``pmod(xxhash64(all hashable columns), 100 × target)`` (guide §2.5's
    sanctioned deterministic synthetic key, 100× the partition count so
    the second-level hash spreads evenly), instead of keyless round-robin:
    every keyless ``repartition(n)`` first pays a LOCAL SORT of its input
    (SPARK-23207 retry determinism) and on the single-partition sources
    this floor exists for, that sort runs on one core over the whole
    table — measured 1.23 s → 0.79 s on the sf0.1 lineitem checksum (r14).
    Content-hash keys are retry-deterministic with no sort. Balance note:
    every caller feeds rows with a unique column (PKs / doc ids / vec
    ids), so the full-row hash is unique per row; only a table whose rows
    are mostly byte-identical copies would skew, and a caller with such a
    source should pass unique ``spread_cols`` of its own. Unhashable
    column types (maps, at ANY nesting depth — xxhash64 raises
    HASH_MAP_TYPE for array<map>/struct-with-map too, and the checksum
    path feeds arbitrary imported schemas through here) are excluded from
    the key; a df with no hashable column falls back to round-robin."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism

    def _has_map(dt: T.DataType) -> bool:
        if isinstance(dt, T.MapType):
            return True
        if isinstance(dt, T.ArrayType):
            return _has_map(dt.elementType)
        if isinstance(dt, T.StructType):
            return any(_has_map(f.dataType) for f in dt.fields)
        return False

    def _spread(d: DataFrame) -> DataFrame:
        cols = spread_cols or [f.name for f in d.schema.fields
                               if not _has_map(f.dataType)]
        if not cols:
            return d.repartition(target)
        # backtick-quote so hostile column names (dots, backticks — the
        # restore-side checksum path sees imported tables) resolve as
        # exact names, never as nested-field paths
        refs = [F.col("`" + c.replace("`", "``") + "`") for c in cols]
        key = F.pmod(F.xxhash64(*refs), F.lit(100 * target))
        return d.repartition(target, key)
    if min_bytes > 0:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if size < min_bytes:
            return df
    # Decide from the FILE layout when the plan reads files — the honest
    # probe (df.rdd.getNumPartitions()) costs a full RDD-plan conversion
    # (~0.15-0.25 s of driver time PER CALL; r14 measured ~2 s of pure
    # construction overhead on the 10-table checksum sweep), while
    # inputFiles()+stats are ~10 ms against the cached file index:
    # - ≥ target files           → scan splits ≥ files ≥ target: no spread
    # - ≥ target × 128 MB bytes  → ≥ target splits of default-sized row
    #                              groups: no spread
    # - otherwise                → under-parallel scan: spread.
    # Non-file plans (local relations, checkpoints, joins) keep the exact
    # RDD probe — only there is it both needed and (tests/tiny data) cheap.
    files = df.inputFiles()
    if files:
        if len(files) >= target:
            return df
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        if size >= target * 128 * 1024 * 1024:
            return df
        return _spread(df)
    if df.rdd.getNumPartitions() < target:
        return _spread(df)
    return df


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    salt_factor: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-tolerant equi-join: salt the big side, replicate the small side.

    AQE's skew-join split only helps sort-merge joins after the skewed
    shuffle already happened; salting prevents the hot partition from forming
    at all — each hot key's rows spread over ``salt_factor`` shuffle
    partitions, the small side is replicated ``salt_factor``× (bounded: it
    must be the *smaller* input). The salt is a deterministic hash of the
    whole row (xxhash64 over all big-side columns), not a RNG, so the plan is
    reproducible. Result is exactly the plain join, proven by test."""
    keys = [on] if isinstance(on, str) else list(on)
    salt_col = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salt_factor))
    big_s = big.withColumn("__salt", salt_col)
    salts = big.sparkSession.range(salt_factor).select(
        F.col("id").cast("long").alias("__salt")
    )
    small_s = small.crossJoin(F.broadcast(salts))
    joined = big_s.join(small_s, keys + ["__salt"], how)
    return joined.drop("__salt")


def zstd_read_bytes(spark, path: str, limit: "int | None" = None) -> bytes:
    """Decompress a ``.zst`` file into bytes through the zstd-jni codec
    Spark already ships (this environment has no Python zstd module) —
    one JVM-side stream copy, no per-byte py4j traffic. ``limit`` bounds
    the DECOMPRESSED bytes (BoundedInputStream): a head peek of a
    chunk-sized ``-c`` dump must never materialize the whole table on
    the driver.

    Recent reference builds default ``-c`` to zstd
    (mydumper_global.h compress defaults), so a genuine dump's
    statement siblings arrive as ``.sql.zst``; data chunks are read by
    Spark's own codec path, but driver-plane peeks (dialect recovery)
    need this. Raises ``ValueError`` if the JVM codec is unreachable
    (never silently mis-reads compressed bytes as text)."""
    jvm = spark._jvm
    try:
        fin = jvm.java.io.FileInputStream(path)
    except Exception as exc:
        raise ValueError(f"cannot open {path!r}: {exc}") from exc
    zin = None
    try:
        zin = jvm.com.github.luben.zstd.ZstdInputStream(fin)
        src = (jvm.org.apache.commons.io.input.BoundedInputStream(
            zin, int(limit)) if limit is not None else zin)
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(src))
    except (TypeError, AttributeError) as exc:
        # zstd-jni / commons-io absent from this JVM: the loud stop the
        # old .zst branch promised, now with the workaround inline
        raise ValueError(
            f"cannot decompress {path!r}: the JVM lacks zstd-jni — "
            "decompress the dump's .zst files first (zstd -d)") from exc
    finally:
        if zin is not None:
            zin.close()
        fin.close()


def read_text_head(path: str, n: int, spark=None) -> str:
    """First ``n`` characters of a possibly-compressed text file —
    THE codec-routing head read (gzip via the stdlib, zstd via
    :func:`zstd_read_bytes` bounded to 4·n decompressed bytes, plain
    otherwise; utf-8 + surrogateescape throughout). Shared by
    engine._read_statement_head (LOAD DATA dialect recovery) and
    insert_parser's column-list peek so the codec routing can never
    diverge between them."""
    if path.endswith(".gz"):
        import gzip

        with gzip.open(path, "rt", encoding="utf-8",
                       errors="surrogateescape") as fh:
            return fh.read(n)
    if path.endswith(".zst"):
        if spark is None:
            raise ValueError(
                f"cannot read {path!r}: .zst decompression needs the "
                "JVM codec (pass spark)")
        return zstd_read_bytes(spark, path, limit=4 * n).decode(
            "utf-8", "surrogateescape")[:n]
    with open(path, encoding="utf-8", errors="surrogateescape") as fh:
        return fh.read(n)


def thread_map(fn: Callable, items, n_threads: int) -> list:
    """``[fn(x) for x in items]`` on a thread pool of up to
    ``n_threads`` threads — the shape of every per-table step: each item
    is an independent chain of Spark jobs, and pool threads overlap them.
    With fewer than two threads or items it runs on the calling thread.
    Results keep ``items`` order; an exception from ``fn`` propagates."""
    items = list(items)
    n = min(int(n_threads), len(items))
    if n <= 1:
        return [fn(x) for x in items]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=n) as ex:
        return list(ex.map(fn, items))


def empty_frame(spark, schema: "T.StructType | str") -> DataFrame:
    """A zero-row DataFrame of ``schema`` (a StructType or a DDL string,
    as ``createDataFrame`` takes), planned as a JVM ``LocalRelation``
    (``LocalTableScan <empty>``), nullability included.
    ``spark.createDataFrame([], schema)`` is a Python RDD instead
    (``Scan ExistingRDD``): its first action starts the Python worker
    daemon to produce no rows."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    jspark = spark._jsparkSession
    return DataFrame(
        jspark.createDataFrame(spark._jvm.java.util.ArrayList(),
                               jspark.parseDataType(schema.json())),
        spark)

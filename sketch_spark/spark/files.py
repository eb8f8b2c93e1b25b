"""Parquet-direct distributed sketch build: Spark schedules file tasks,
pyarrow reads columns inside them.

Why this path exists: Spark's Python exchange converts a parquet scan
columnar→InternalRow→Arrow *per row* before a `mapInArrow` UDF sees it. For
wide `array<int32>` token columns that JVM conversion costs ~10× more than
the sketch kernels themselves (measured: an 18M-token scan spends ~13-18 s
in conversion vs ~0.25 s/partition in NumPy updates). Reading the parquet
columns directly with pyarrow inside each task skips the double conversion
— the bytes go parquet → Arrow → NumPy zero-copy — and gives *true* column
pruning (only the sketched columns are read at all).

Scale design: the task unit is the input file (at 100 TB, files ≫ cores, so
Spark's scheduler balances them; per-task pyarrow runs single-threaded to
avoid oversubscribing executor cores — Spark owns the parallelism). Each
task feeds its unit tables to the same task body as the DataFrame path
(`agg._absorb`), and the per-task states — kilobytes regardless of input
size — merge through the shared fold tree (`agg.tree_fold`, every combine
a `fold_states`). This is the same execution shape as the reference's MPI job
(mpiParallelIO.cpp: chunked parallel read → local sketch → gathered merge)
with Spark doing the scheduling, retries, and the tree correctly (the
reference's own tree combine is disabled as buggy, mpiParallelIO.cpp:83-84).

The DataFrame path (`sketch_spark.spark.agg`) remains the general route for
sketching *derived* DataFrames (post-filter/join/column-expr); this module
is the fast path for whole-table builds, and the two produce byte-identical
states (tested)."""

from __future__ import annotations

import os
from typing import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import SparkSession

from sketch_spark.sketches.base import Sketch, make_sketch
from sketch_spark.spark.agg import (
    SketchSpec,
    _absorb,
    _keyed_partial,
    merge_keyed_states,
    tree_fold,
)


def list_parquet_files(path_or_files: str | list[str]) -> list[str]:
    if isinstance(path_or_files, (list, tuple)):
        return sorted(path_or_files)
    if os.path.isfile(path_or_files):
        return [path_or_files]
    return sorted(
        os.path.join(path_or_files, f)
        for f in os.listdir(path_or_files)
        if f.endswith(".parquet")
    )


def _read_units(units: Iterable[tuple], cols: list[str]) -> Iterator[pa.Table]:
    """Read the needed columns of each work unit with pyarrow
    (single-threaded — Spark owns core-level parallelism). A unit is
    (path, rg_lo, rg_hi): a contiguous row-group range, or the whole file
    when rg_lo is None."""
    import pyarrow.parquet as pq

    for path, rg_lo, rg_hi in units:
        if rg_lo is None:
            yield pq.read_table(path, columns=cols, use_threads=False)
        else:
            pf = pq.ParquetFile(path)
            yield pf.read_row_groups(list(range(rg_lo, rg_hi)), columns=cols, use_threads=False)


def _plan_units(files: list[str], target: int) -> list[tuple]:
    """Work units sized to the cluster. With files ≫ cores (the 100 TB
    case) each unit is a whole file. With FEWER files than cores (one big
    parquet per table — the driver's testdata shape), split each file into
    contiguous row-group ranges so the scan still uses every core; the
    row group is parquet's natural split unit (footer metadata only —
    no data read at planning time)."""
    if len(files) >= target:
        return [(f, None, None) for f in files]
    import pyarrow.parquet as pq

    per_file = max(1, target // len(files))
    units: list[tuple] = []
    for f in files:
        n_rg = pq.ParquetFile(f).metadata.num_row_groups
        k = min(per_file, n_rg)
        bounds = [round(i * n_rg / k) for i in range(k + 1)]
        units.extend((f, bounds[i], bounds[i + 1]) for i in range(k) if bounds[i] < bounds[i + 1])
    return units


# Spark SQL type → the Arrow type Spark's Python runner expects for that
# column in a mapInArrow OUTPUT batch (Spark does not cast here — the task
# normalizes parquet-dialect types like large_string to these). Timestamp
# keys are handled separately: their Arrow type carries the session
# timezone, read from the conf at plan time.
_SPARK_TO_ARROW = {
    "tinyint": pa.int8(),
    "smallint": pa.int16(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
    "string": pa.string(),
    "date": pa.date32(),
    "boolean": pa.bool_(),
}

# minimal pyarrow → Spark SQL type map for GROUP-KEY columns (the key rides
# through the phase-1 partial batches and the phase-2 merge schema; value
# columns never need this — they stay NumPy inside the task)
_ARROW_TO_SPARK = {
    "int8": "tinyint",
    "int16": "smallint",
    "int32": "int",
    "int64": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "large_string": "string",
    "date32[day]": "date",
    "bool": "boolean",
}


def sketch_by_key_from_parquet(
    spark: SparkSession,
    path_or_files: str | list[str],
    key: str | list[str],
    specs: list[SketchSpec],
    weight_col: str | None = None,
    flush_keys: int | None = None,
) -> "DataFrame":
    """Grouped sketches, parquet-direct: the fast path of
    :func:`sketch_spark.spark.agg.sketch_by_key` for whole-table builds.

    Same two-phase shape — map-side per-key partials, one shuffle of
    kilobyte states — but phase 1 reads the parquet columns with pyarrow
    inside each Spark task instead of going through the JVM row→Arrow
    exchange, which for array<int32> token columns costs ~8× the kernels
    themselves (module docstring above; measured). Output contract is
    identical to ``sketch_by_key``: a DataFrame (keys..., name, state)
    with the key column(s) in their native types; ``key`` may be one
    column or a list (fine-granularity builds for
    :func:`sketch_spark.spark.agg.rollup_states`).

    States are byte-identical to the DataFrame path for the
    partitioning-invariant kinds (hll/bloom/cms/minhash/…, the §5 merge
    invariant) — regression-tested."""
    import pyarrow.parquet as pq

    files = list_parquet_files(path_or_files)
    if not files:
        raise ValueError(f"no parquet files under {path_or_files!r}")
    spec_list = [(s.name, s.kind, s.col, dict(s.params), s.is_quantile) for s in specs]
    keys = [key] if isinstance(key, str) else list(key)
    schema_arrow = pq.ParquetFile(files[0]).schema_arrow
    key_types = []
    for k in keys:
        arrow_key_t = str(schema_arrow.field(k).type)
        kt = _ARROW_TO_SPARK.get(arrow_key_t)
        if kt is None:
            if arrow_key_t.startswith("timestamp"):
                kt = "timestamp"
            else:
                raise ValueError(f"unsupported group-key arrow type {arrow_key_t!r}")
        key_types.append(kt)
    cols = sorted(
        {c for _, _, c, _, _ in spec_list} | set(keys) | ({weight_col} if weight_col else set())
    )

    par = spark.sparkContext.defaultParallelism
    units = _plan_units(files, par)
    n_slices = min(len(units), max(par, len(units) // 8))

    # Arrow-native phase-1 handoff: the partial batches `_keyed_partial`
    # emits are ALREADY Arrow, so ship them through mapInArrow unchanged
    # instead of round-tripping per-key states through to_pylist() +
    # createDataFrame (Python-object materialization of every state blob).
    # The units ride in as a tiny DataFrame built from a parallelize() RDD,
    # which keeps the deterministic range slicing of the unit list (a
    # repartition() round-robin would not be retry-stable, and unit→task
    # assignment is part of the byte-identity story for the
    # batch-boundary-dependent kinds).
    session_tz = spark.conf.get("spark.sql.session.timeZone")
    target = pa.schema(
        [
            pa.field(
                k,
                pa.timestamp("us", tz=session_tz) if t == "timestamp" else _SPARK_TO_ARROW[t],
            )
            for k, t in zip(keys, key_types)
        ]
        + [pa.field("name", pa.string()), pa.field("state", pa.binary())]
    )

    def task(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        from sketch_spark.spark.agg import FLUSH_KEYS

        def unit_stream():
            for b in it:
                yield from zip(
                    b.column(0).to_pylist(), b.column(1).to_pylist(), b.column(2).to_pylist()
                )

        batches = (b for t in _read_units(unit_stream(), cols) for b in t.to_batches())
        for out in _keyed_partial(
            batches, keys, spec_list, weight_col, flush_keys or FLUSH_KEYS
        ):
            # parquet key types can differ in spelling from Spark's Arrow
            # dialect (large_string, naive timestamps) — normalize
            yield out if out.schema == target else out.cast(target)

    unit_rows = spark.sparkContext.parallelize(list(units), n_slices)
    units_df = spark.createDataFrame(unit_rows, "path string, rg_lo int, rg_hi int")
    schema = ", ".join(
        [f"{k} {t}" for k, t in zip(keys, key_types)] + ["name string", "state binary"]
    )
    partials = units_df.mapInArrow(task, schema)
    return merge_keyed_states(partials, keys)


def build_sketches_from_parquet(
    spark: SparkSession,
    path_or_files: str | list[str],
    specs: list[SketchSpec],
    row_filter=None,
    extra_columns: tuple[str, ...] = (),
) -> dict[str, Sketch]:
    """Whole-table sketch build, parquet-direct: one Spark task per slice of
    work units → per-task sketch states → :func:`~sketch_spark.spark.agg.tree_fold`.

    ``row_filter``: optional ``pa.Table -> pa.Table`` applied per file (the
    pushdown hook for simple predicates; must be deterministic).
    ``extra_columns``: columns the filter needs beyond the sketched ones."""
    files = list_parquet_files(path_or_files)
    if not files:
        raise ValueError(f"no parquet files under {path_or_files!r}")
    spec_list = [(s.name, s.kind, s.col, dict(s.params), s.is_quantile) for s in specs]
    # tasks sized to the cluster: ~1 slice per core (each task pre-merges its
    # units locally and ships ONE state set), but never fewer than units/8 so
    # a straggler unit can't dominate a slice on a big cluster. Fewer files
    # than cores → row-group splitting keeps the scan full-width.
    par = spark.sparkContext.defaultParallelism
    units = _plan_units(files, par)
    n_slices = min(len(units), max(par, len(units) // 8))
    cols = sorted({s.col for s in specs} | set(extra_columns))

    def task(part: Iterator[tuple]) -> Iterator[tuple[str, bytes]]:
        sketches = {name: make_sketch(kind, **params) for name, kind, _, params, _ in spec_list}
        any_unit = False
        for table in _read_units(part, cols):
            any_unit = True
            _absorb(sketches, table if row_filter is None else row_filter(table), spec_list)
        if any_unit:
            for name, sk in sketches.items():
                yield name, sk.to_bytes()

    out = tree_fold(spark.sparkContext.parallelize(units, n_slices).mapPartitions(task))
    for s in specs:  # all files empty → identity sketches
        out.setdefault(s.name, s.new())
    return out

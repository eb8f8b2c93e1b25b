"""Checkpointed, resumable sketch builds with per-file lineage.

The unit of lineage is the input *file* (stable across runs, unlike Spark
partition ids): each input parquet file's partial sketch states are written
to a parquet checkpoint table keyed by file path. Resume = list files,
anti-join against already-checkpointed files, compute only the missing ones,
then merge everything. Because every sketch update is deterministic
(seeded hashes, registerwise max/add merges), the resumed global estimate is
byte-identical to an uninterrupted run — the reference's serialization
round-trip guarantee (testsrc/serial_test.cpp:25-39) lifted to job level.

This is the Iceberg-snapshot pattern from SURVEY.md §4 implemented over
plain parquet (Iceberg's runtime jars aren't in this sandbox; the layout —
append-only state files + lineage key — is identical, and the writer is a
single `mode=append` swap away from an Iceberg `writeTo`).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from sketch_spark.sketches.base import Sketch, from_bytes
from sketch_spark.spark.agg import SketchSpec, rollup_states, sketch_by_key
from sketch_spark.spark.files import list_parquet_files


def checkpointed_build(
    spark: SparkSession,
    input_path: str,
    specs: list[SketchSpec],
    ckpt_dir: str,
    fail_after_files: int | None = None,
) -> dict[str, Sketch]:
    """Build global sketches over a parquet directory with per-file
    checkpointing; safe to kill and re-run.

    ``fail_after_files`` injects a crash after K files for resume tests.
    """
    all_files = list_parquet_files(input_path)
    done: set[str] = set()
    if os.path.exists(ckpt_dir) and any(
        f.endswith(".parquet") for f in os.listdir(ckpt_dir)
    ):
        done = {
            r[0]
            for r in spark.read.parquet(ckpt_dir).select("file").distinct().collect()
        }
    todo = [f for f in all_files if f not in done]
    if fail_after_files is not None:
        todo = todo[:fail_after_files]
    if todo:
        df = spark.read.parquet(*todo).withColumn(
            "file", F.regexp_replace(F.input_file_name(), "^file:/+", "/")
        )
        states = sketch_by_key(df, "file", specs)
        states.write.mode("append").parquet(ckpt_dir)
    if fail_after_files is not None and len(todo) < len(
        [f for f in all_files if f not in done]
    ):
        raise RuntimeError("injected failure: checkpoint incomplete")

    # final merge over all checkpointed states (tiny: |files|×|specs| rows);
    # a spec whose column had no values in any file has no checkpoint row
    merged = rollup_states(spark.read.parquet(ckpt_dir), [])
    out = {r["name"]: from_bytes(bytes(r["state"])) for r in merged.collect()}
    for s in specs:
        out.setdefault(s.name, s.new())
    return out


def lineage_report(spark: SparkSession, ckpt_dir: str) -> DataFrame:
    """Which input files are covered by the checkpoint (audit surface)."""
    return (
        spark.read.parquet(ckpt_dir)
        .groupBy("file")
        .agg(F.count("*").alias("n_states"), F.collect_set("name").alias("sketches"))
        .orderBy("file")
    )

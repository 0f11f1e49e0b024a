"""Stage metadata + idempotent stage execution (SURVEY §2.12).

Reference parity: ``/root/reference/src/pos_core/etl/metadata.py:15-157``
— per-(stage, date-range) JSON records with status/version enabling
skip-if-done semantics, and the ``fetch(mode=missing|force)`` /
``load`` API shape of the per-domain modules (``payments/raw.py`` etc.).

In the rebuild each stage materializes partitioned Parquet; metadata
lives in a ``_meta/`` sidecar directory next to the output. At cluster
scale the same records would live in a Delta commit log or a catalog
table — the interface is identical.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections.abc import Callable
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, SparkSession

from pos_pipeline_core_etl_spark.sources.writers import write_partitioned

STAGE_VERSION = "1"


@dataclass
class StageMetadata:
    stage: str
    start: str
    end: str
    status: str  # ok | failed | partial
    version: str = STAGE_VERSION
    rows: int = 0

    def key(self) -> str:
        return f"{self.stage}_{self.start}_{self.end}"


def _meta_path(base_dir: str, meta: StageMetadata) -> str:
    return os.path.join(base_dir, "_meta", f"{meta.key()}.json")


def write_metadata(base_dir: str, meta: StageMetadata) -> str:
    path = _meta_path(base_dir, meta)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(asdict(meta), f, indent=2, sort_keys=True)
    return path


def read_metadata(base_dir: str, stage: str, start: str, end: str) -> StageMetadata | None:
    path = os.path.join(base_dir, "_meta", f"{stage}_{start}_{end}.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as f:
        return StageMetadata(**json.load(f))


def should_skip_stage(
    base_dir: str, stage: str, start: str, end: str, force: bool = False
) -> bool:
    """Skip iff a matching record exists with status ok and same version."""
    if force:
        return False
    meta = read_metadata(base_dir, stage, start, end)
    return meta is not None and meta.status == "ok" and meta.version == STAGE_VERSION


def run_stage(
    spark: SparkSession,
    base_dir: str,
    stage: str,
    start: dt.date,
    end: dt.date,
    build: Callable[[SparkSession], DataFrame],
    partition_by: tuple[str, ...] = (),
    mode: str = "missing",
) -> DataFrame:
    """Idempotent stage executor: skip-check → build → parquet write →
    metadata ok/failed (reference stage-fn shape, etl/payments.py:42-117).

    mode: ``missing`` skips when metadata says ok and the output
    directory still exists (an ok record whose output was deleted is
    stale, so the stage rebuilds); ``force`` rebuilds.

    The written output is read back once: that frame's ``count()`` is
    the metadata ``rows`` and the same frame is returned, so a rebuild
    pays one partition discovery and one footer scan, not two.
    """
    if mode not in ("missing", "force"):
        raise ValueError(f"mode must be 'missing' or 'force', got {mode!r}")
    s, e = start.isoformat(), end.isoformat()
    out_dir = os.path.join(base_dir, stage)
    if mode == "missing" and should_skip_stage(base_dir, stage, s, e) and os.path.isdir(out_dir):
        return spark.read.parquet(out_dir)
    try:
        write_partitioned(build(spark), out_dir, partition_by=partition_by)
        out = spark.read.parquet(out_dir)
        write_metadata(base_dir, StageMetadata(stage, s, e, "ok", rows=out.count()))
    except Exception:
        write_metadata(base_dir, StageMetadata(stage, s, e, "failed"))
        raise
    return out

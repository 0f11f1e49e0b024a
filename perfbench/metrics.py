"""Metric names, units and the result line the benchmark prints."""

from __future__ import annotations

import re
import statistics

from perfbench.spans import LAYERS, MEASURES

END_TO_END = {"setup_s": "s", "pass_s": "s"}

# per-layer measures that are not times or counts of Spark work
LAYER_EXTRA = {
    "sources.metadata.files_written": "count",
    "sources.metadata.bytes_written": "bytes",
    "api.stage_skip_ratio": "ratio",
    "spark.persistent_rdds": "count",
    "spark.local_dir_mb": "MB",
    "process.peak_rss_mb": "MB",
    "trace.uncovered_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}
MEASURE_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "stages": "count",
    "tasks": "count", "exec_cpu_s": "s", "driver_cpu_s": "s", "util": "ratio",
}

_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def valid_name(name: str) -> bool:
    return bool(_NAME.match(name))


def per_layer_units() -> dict[str, str]:
    units = {f"{layer}.{m}": MEASURE_UNITS[m] for layer in LAYERS for m in MEASURES}
    units.update(LAYER_EXTRA)
    return units


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation attempted")
    return failed / attempted


def result_line(attempted: int, failed: int, values: dict[str, float],
                units: dict[str, str]) -> dict:
    """The contract's last stdout line.  ``correct`` is false as soon as
    one operation failed or mismatched its check."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    bad = [n for n in units if not valid_name(n)]
    if bad:
        raise ValueError(f"invalid metric names: {bad}")
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(values[n]), "unit": u} for n, u in units.items()},
    }

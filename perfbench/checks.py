"""Output checks, run outside the timed passes.

Registry operations are compared with their ``oracle_sql()`` under
DuckDB on the same parquet files, using the normalisation of the
repository's own oracle test helper (``tests/oracle_utils.py``).  POS
stages are checked against invariants that follow from the inputs.
"""

from __future__ import annotations

import importlib.util
import math
import os

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_oracle_utils():
    """The repository's oracle helper, loaded by path (``tests`` is not a package)."""
    path = os.path.join(ROOT, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_utils", path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB over one generated table directory."""

    def __init__(self, sf_dir: str):
        self._utils = load_oracle_utils()
        self._con = self._utils.duckdb_connection(sf_dir)

    def frame(self, sql: str) -> pd.DataFrame:
        return self._con.execute(sql).fetchdf()

    def close(self) -> None:
        self._con.close()

    def compare(self, got: pd.DataFrame, want: pd.DataFrame) -> str | None:
        """None when ``got`` equals the oracle frame ``want`` as a multiset
        of normalised rows, else a one-line reason."""
        if sorted(got.columns) != sorted(want.columns):
            return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        rows, want_rows = self._utils._normalize(got), self._utils._normalize(want)
        if len(rows) != len(want_rows):
            return f"{len(rows)} rows, oracle has {len(want_rows)}"
        if rows != want_rows:
            first = next(i for i, (a, b) in enumerate(zip(rows, want_rows)) if a != b)
            return f"row {first} differs: {rows[first]} != {want_rows[first]}"
        return None


def numeric_sums(df: pd.DataFrame) -> dict[str, float]:
    return {
        c: float(pd.to_numeric(df[c], errors="coerce").fillna(0).sum())
        for c in df.columns
        if pd.api.types.is_numeric_dtype(df[c])
    }


def compare_export(csv_path: str, want: pd.DataFrame) -> str | None:
    """An exported mart CSV against the oracle frame: the same columns,
    row count and per-column sums of every numeric column."""
    got = pd.read_csv(csv_path, encoding="utf-8-sig")
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    got_sums = numeric_sums(got)
    for col, total in numeric_sums(want).items():
        if not math.isclose(got_sums.get(col, math.nan), total, rel_tol=1e-9, abs_tol=1e-6):
            return f"sum({col}) {got_sums.get(col)} != {total}"
    return None


def expected_forecast_rows(mart: pd.DataFrame, metrics: tuple[str, ...],
                           horizon: int, min_obs: int) -> int:
    """horizon × (branch, metric) series with at least ``min_obs`` non-zero days."""
    base = mart.copy()
    if "ingreso_total" in metrics and "ingreso_total" not in base.columns:
        cols = [c for c in base.columns if c.startswith("ingreso_")]
        base["ingreso_total"] = base[cols].sum(axis=1)
    series = 0
    for _branch, grp in base.groupby("sucursal"):
        series += sum(int((grp[m] != 0).sum() >= min_obs) for m in metrics)
    return horizon * series

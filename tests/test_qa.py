"""``run_payments_qa`` orchestration: the same summary as running every
check as its own action, no checkpoint blocks left behind, and detail
frames that outlive the call."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.operators import qa

SCHEMA = ", ".join(
    ["sucursal string", "fecha date"]
    + [f"{c} double" for c in qa.MONEY_COLS]
    + ["num_tickets long"]
)
DAY0 = dt.date(2024, 1, 1)


def _row(sucursal, fecha, efectivo, credito=30.0, debito=20.0, propinas=5.0, tickets=10):
    cells = {c: 0.0 for c in qa.INGRESO_COLS}
    cells.update(ingreso_efectivo=efectivo, ingreso_credito=credito, ingreso_debito=debito)
    return (sucursal, fecha, *[cells[c] for c in qa.INGRESO_COLS], propinas, tickets)


def _faulty_rows():
    """Branch A: 70 days with a gap, a duplicate, zero-method days, a
    negative tip and one revenue outlier late enough for a full 60-day
    window; branch B: a short clean run plus rows with a null key, a
    null value cell and tickets without revenue."""
    rows = []
    for i in range(70):
        if i == 30:
            continue  # calendar gap
        day = DAY0 + dt.timedelta(days=i)
        if i == 65:
            rows.append(_row("A", day, 10_000.0))  # z-score outlier
        elif i % 7 == 3:
            rows.append(_row("A", day, 50.0 + i % 5, credito=0.0, debito=0.0))
        else:
            rows.append(_row("A", day, 50.0 + i % 5, propinas=-5.0 if i == 12 else 5.0))
    rows.append(rows[10])  # duplicate (A, day 10)
    for i in range(5):
        rows.append(_row("B", DAY0 + dt.timedelta(days=i), 40.0 + i))
    rows.append(_row("B", DAY0 + dt.timedelta(days=5), 0.0, credito=0.0, debito=0.0))
    rows.append(_row("B", DAY0 + dt.timedelta(days=6), 25.0, tickets=0))
    rows.append(_row(None, DAY0, 10.0))
    rows.append(_row("B", None, 10.0))
    null_cell = list(_row("B", DAY0 + dt.timedelta(days=7), 10.0))
    null_cell[2 + qa.MONEY_COLS.index("ingreso_rappi")] = None
    rows.append(tuple(null_cell))
    return rows


def _separate_actions(mart) -> dict:
    """Each check as its own Spark action over the lazy mart."""
    neg = qa.check_non_negative(mart).collect()[0]
    cons = qa.check_revenue_consistency(mart).collect()[0]
    nulls = qa.check_nulls(mart).collect()[0]
    want = {
        "duplicates": qa.check_duplicates(mart).count(),
        "negative_columns": sum(
            1 for v in neg.asDict().values() if v is not None and v < qa.NEG_TOLERANCE
        ),
        "tickets_no_revenue": cons["tickets_no_revenue"],
        "revenue_no_tickets": cons["revenue_no_tickets"],
        "missing_days": qa.detect_missing_days(mart).count(),
        "zscore_anomalies": qa.detect_zscore_anomalies(mart).count(),
        "zero_method_days": qa.detect_zero_method_flags(mart).count(),
        "null_keys": mart.where(
            F.col("sucursal").isNull() | F.col("fecha").isNull()
        ).count(),
        "null_values": sum(nulls[f"nulls_{c}"] for c in qa.VALUE_COLS),
    }
    want["errors"] = want["duplicates"] + want["negative_columns"] + want["null_keys"]
    want["status"] = "ERROR" if want["errors"] else "OK"
    return want


@pytest.mark.parametrize("faulty", [True, False], ids=["faulty", "empty"])
def test_run_payments_qa_matches_separate_checks_and_frees_checkpoint(spark, faulty):
    mart = spark.createDataFrame(_faulty_rows() if faulty else [], SCHEMA).coalesce(1)
    want = _separate_actions(mart)
    if faulty:
        # every check has something to find
        assert all(want[k] for k in want if k not in ("revenue_no_tickets", "status"))
        assert want["revenue_no_tickets"] == 1 and want["null_keys"] == 2
    else:
        assert not any(want[k] for k in want if k != "status")

    # ids, not a count: the context cleaner may free other tests'
    # leftovers while the call runs
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persistent())
    result = qa.run_payments_qa(mart)
    assert set(persistent()) <= before

    assert result["summary"] == want
    details = result["details"]
    for name in ("duplicates", "missing_days", "zscore_anomalies", "zero_method_days"):
        assert details[name].count() == want[name]

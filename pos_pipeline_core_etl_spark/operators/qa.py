"""Data-QA operators over mart_payments_daily (SURVEY §2.11 parity).

Every check from the reference QA suite (``/root/reference/src/pos_core/
qa/qa_payments.py``) re-expressed as a declarative DataFrame plan:

- ``check_duplicates``        (:470-505)  dup (sucursal, fecha) keys
- ``check_nulls``             (:546-584)  per-column null counts
- ``check_non_negative``      (:508-543)  money/ticket column minimums
- ``check_revenue_consistency`` (:587-639) tickets⇄revenue implications
- ``per_sucursal_ranges``     (:641-697)  per-branch summary stats
- ``detect_missing_days``     (:255-298)  calendar gaps (sequence+anti-join)
- ``detect_zscore_anomalies`` (:331-407)  rolling 60-day z-score, |z| ≥ 4
- ``detect_zero_method_flags``(:411-462)  tickets>0 but both card cols 0
- ``monthly_sales_table``     (:705-816)  monthly sales + elim-pct rollup
- ``run_payments_qa``         (qa/api.py:29-171) leveled orchestration

All checks are aggregations, joins or window functions — no
``iterrows`` loops (the reference iterates rows for reporting, e.g.
``qa_payments.py:891``).  Each public check is a lazy plan over the
frame it is given, so run on its own it recomputes that frame.

``run_payments_qa`` therefore does not run the checks one by one over
the caller's (lazy) mart.  It materializes the mart once with an eager
``localCheckpoint`` — bounded by the mart grain, branch × day, at any
scale factor — and reads every count off that one copy in one action:
the scalar checks (minimums, revenue consistency, zero-method days,
nulls) share a single aggregate row, onto which the one-row counts of
duplicates, missing days and z-score anomalies are cross-joined, so
adaptive execution runs their independent shuffles side by side.  The
checkpoint is released before it returns; the ``details`` frames it
hands back are lazy plans over the caller's mart, so they stay valid
after the release.
"""

from __future__ import annotations

from functools import reduce
from operator import add, or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.functions.buckets import PAYMENT_BUCKETS
from pos_pipeline_core_etl_spark.functions.rounding import hround
from pos_pipeline_core_etl_spark.operators.common import release_checkpoint

INGRESO_COLS = tuple(f"ingreso_{b}" for b in PAYMENT_BUCKETS)
MONEY_COLS = (*INGRESO_COLS, "propinas")
KEY_COLS = ("sucursal", "fecha")  # a null here is an ERROR, elsewhere a WARN
VALUE_COLS = (*MONEY_COLS, "num_tickets")
NEG_TOLERANCE = -1e-6  # qa_payments.py:535
ZSCORE_WINDOW = 60  # qa_payments.py:333
ZSCORE_THRESHOLD = 4.0


def ingreso_total_col():
    """Row-wise Σ ingreso_* (the reference's total_sin_propinas,
    qa_payments.py:172-185) — left-fold order fixed for determinism."""
    return reduce(add, [F.col(c) for c in INGRESO_COLS])


def _count_if(cond):
    return F.count(F.when(cond, F.lit(1)))


def _non_negative_aggs() -> list:
    return [F.min(F.col(c)).alias(f"min_{c}") for c in MONEY_COLS]


def _consistency_aggs() -> list:
    total = ingreso_total_col()
    return [
        _count_if((F.col("num_tickets") > 0) & (total <= 1e-6)).alias("tickets_no_revenue"),
        _count_if((total > 1e-6) & (F.col("num_tickets") <= 0)).alias("revenue_no_tickets"),
    ]


def _zero_method():
    return (
        (F.col("num_tickets") > 0)
        & (F.col("ingreso_credito") == 0)
        & (F.col("ingreso_debito") == 0)
    )


def check_duplicates(mart: DataFrame) -> DataFrame:
    return (
        mart.groupBy("sucursal", "fecha")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def check_nulls(mart: DataFrame, cols: tuple[str, ...] | None = None) -> DataFrame:
    cols = cols or (*KEY_COLS, *VALUE_COLS)
    return mart.agg(*[_count_if(F.col(c).isNull()).alias(f"nulls_{c}") for c in cols])


def check_non_negative(mart: DataFrame) -> DataFrame:
    """Minimum per money column; a min < −1e-6 is an ERROR in the reference."""
    return mart.agg(*_non_negative_aggs())


def check_revenue_consistency(mart: DataFrame) -> DataFrame:
    """tickets>0 & revenue≈0, or revenue>0 & tickets≤0 → WARN counts."""
    return mart.agg(*_consistency_aggs())


def per_sucursal_ranges(mart: DataFrame) -> DataFrame:
    total = ingreso_total_col()
    return (
        mart.groupBy("sucursal")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("fecha").alias("fecha_min"),
            F.max("fecha").alias("fecha_max"),
            hround(F.sum(total), 2).alias("total_ingreso"),
            F.sum("num_tickets").alias("total_tickets"),
        )
        .withColumn(
            "avg_ticket",
            F.when(
                F.col("total_tickets") == 0, F.lit(None).cast("double")
            ).otherwise(hround(F.col("total_ingreso") / F.col("total_tickets"), 2)),
        )
    )


def detect_missing_days(mart: DataFrame) -> DataFrame:
    """Calendar gaps per sucursal: full min..max range minus observed.

    ``sequence`` + ``explode`` builds the calendar distributively (one
    array per branch, exploded in parallel) — the Spark replacement for
    ``pd.date_range().difference(...)``.
    """
    ranges = mart.groupBy("sucursal").agg(
        F.min("fecha").alias("d0"), F.max("fecha").alias("d1")
    )
    calendar = ranges.select(
        "sucursal",
        F.explode(F.sequence("d0", "d1", F.expr("interval 1 day"))).alias("fecha"),
    )
    observed = mart.select("sucursal", "fecha")
    return calendar.join(observed, ["sucursal", "fecha"], "left_anti")


def detect_zscore_anomalies(
    mart: DataFrame,
    window: int = ZSCORE_WINDOW,
    threshold: float = ZSCORE_THRESHOLD,
    flagged_only: bool = True,
) -> DataFrame:
    """Rolling z-score per branch over the trailing ``window`` rows.

    ``rowsBetween(-(window-1), 0)`` mirrors pandas
    ``rolling(60, min_periods=1)``; stddev is the sample stddev in both.
    """
    w = (
        Window.partitionBy("sucursal")
        .orderBy("fecha")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    total = ingreso_total_col()
    scored = (
        mart.select("sucursal", "fecha", total.alias("ingreso_total"))
        .withColumn("roll_mean", F.avg("ingreso_total").over(w))
        .withColumn("roll_std", F.stddev_samp("ingreso_total").over(w))
        .withColumn(
            "z",
            F.when(
                F.col("roll_std").isNull() | (F.col("roll_std") == 0),
                F.lit(None).cast("double"),
            ).otherwise(
                hround((F.col("ingreso_total") - F.col("roll_mean")) / F.col("roll_std"), 4)
            ),
        )
        .select("sucursal", "fecha", hround(F.col("ingreso_total"), 2).alias("ingreso_total"), "z")
    )
    if flagged_only:
        scored = scored.where(F.abs(F.col("z")) >= threshold)
    return scored


def detect_zero_method_flags(mart: DataFrame) -> DataFrame:
    return mart.where(_zero_method()).select("sucursal", "fecha", "num_tickets", "ingreso_efectivo")


def monthly_sales_table(mart: DataFrame) -> DataFrame:
    total = ingreso_total_col()
    return mart.groupBy(
        "sucursal", F.date_format("fecha", "yyyy-MM").alias("year_month")
    ).agg(
        hround(F.sum(total), 2).alias("ventas"),
        hround(F.avg("pct_tickets_with_eliminations"), 4).alias("avg_pct_elim"),
    )


def run_payments_qa(mart: DataFrame) -> dict:
    """Leveled orchestration (qa/api.py:29-171): returns a summary dict
    plus the detail frames.  Errors = duplicates, negative columns and
    rows with a null key; warnings = consistency, zero-method days,
    missing days, z-score anomalies and null value cells.

    One eager ``localCheckpoint`` of ``mart`` and one action over it
    serve every count (see the module docstring); the checkpoint is
    freed before returning, and ``details`` are lazy plans over
    ``mart`` itself."""
    frame = mart.localCheckpoint(eager=True)
    try:
        scalars = frame.agg(
            *_non_negative_aggs(),
            *_consistency_aggs(),
            _count_if(_zero_method()).alias("zero_method_days"),
            _count_if(reduce(or_, [F.col(c).isNull() for c in KEY_COLS]))
            .alias("null_keys"),
            reduce(add, [_count_if(F.col(c).isNull()) for c in VALUE_COLS]).alias("null_values"),
        )
        counts = [
            check(frame).agg(F.count(F.lit(1)).alias(name))
            for name, check in (
                ("duplicates", check_duplicates),
                ("missing_days", detect_missing_days),
                ("zscore_anomalies", detect_zscore_anomalies),
            )
        ]
        row = reduce(DataFrame.crossJoin, counts, scalars).collect()[0]
    finally:
        release_checkpoint(frame)

    summary = {
        "duplicates": row["duplicates"],
        "negative_columns": sum(
            1 for c in MONEY_COLS
            if row[f"min_{c}"] is not None and row[f"min_{c}"] < NEG_TOLERANCE
        ),
        "tickets_no_revenue": row["tickets_no_revenue"],
        "revenue_no_tickets": row["revenue_no_tickets"],
        "missing_days": row["missing_days"],
        "zscore_anomalies": row["zscore_anomalies"],
        "zero_method_days": row["zero_method_days"],
        "null_keys": row["null_keys"],
        "null_values": row["null_values"],
    }
    summary["errors"] = (
        summary["duplicates"] + summary["negative_columns"] + summary["null_keys"]
    )
    summary["status"] = "ERROR" if summary["errors"] else "OK"
    return {
        "summary": summary,
        "details": {
            "duplicates": check_duplicates(mart),
            "missing_days": detect_missing_days(mart),
            "zscore_anomalies": detect_zscore_anomalies(mart),
            "zero_method_days": detect_zero_method_flags(mart),
        },
    }

"""Pipeline orchestration (SURVEY.md §3): extract → transform → validate
→ load → report, as one lazy Spark plan with explicit materialization
points.

Differences from the reference's eager pandas lifecycle
(reference scripts/main.py:184-222):
- Each phase is a pure ``DataFrame → DataFrame`` composition; nothing
  materializes until a sink/count/report action.
- The five cleaned frames feed three summaries + validation + volume
  counts, so they are ``cache()``d — the one manual materialization
  decision Catalyst can't make for us (SURVEY.md §4.1).
- Volume stats (S3/A6) come from ``count()`` on the cached frames
  (no extra scans).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..config import PipelineConfig
from ..operators.cleaning import (
    clean_assignments,
    clean_departments,
    clean_employees,
    clean_projects,
    clean_reviews,
)
from ..operators.summaries import dept_summary, emp_performance, project_workload
from ..sources.readers import check_manifest, normalize_departments, read_csv_table
from ..sources.schemas import HR_TABLE_ORDER
from ..sources.sinks import jdbc_write_options, write_csv, write_jdbc, write_text_report
from . import validation as V
from .reporting import generate_summary_report


OUTPUT_COLUMNS = {
    # P8 column alignment per output table (reference scripts/main.py:96-105)
    "dim_departments": ["department_id", "department_name", "location", "budget", "manager_id"],
    "dim_employees": [
        "employee_id", "name", "department_id", "salary", "hire_date",
        "salary_bucket", "tenure_years", "status",
    ],
    "fact_performance_reviews": [
        "review_id", "employee_id", "review_date", "rating",
        "performance_category", "is_self_review", "latest_rating",
    ],
    "fact_project_assignments": [
        "employee_id", "project_id", "allocation_percentage", "start_date", "end_date",
    ],
}


def register_output_views(spark: SparkSession, outputs: dict[str, DataFrame]) -> None:
    """Register every output table as a temp view (SQL surface parity:
    each business insight becomes a one-line spark.sql query)."""
    for name, df in outputs.items():
        df.createOrReplaceTempView(name)


def _select_existing(df: DataFrame, cols: list[str]) -> DataFrame:
    """Best-effort projection (reference scripts/main.py:99-105 pattern)."""
    present = [c for c in cols if c in df.columns]
    return df.select(*present)


def run_pipeline(spark: SparkSession, conf: PipelineConfig) -> dict:
    """Full ETL. Returns {outputs, volume_stats, dq, report, timings}."""
    timings: dict[str, float] = {}
    t0 = time.time()

    # --- extract (S1/S2/S3) -------------------------------------------------
    check_manifest(conf.raw_dir, [f"{t}.csv" for t in HR_TABLE_ORDER])
    raw = {
        t: read_csv_table(spark, os.path.join(conf.raw_dir, f"{t}.csv"), t)
        for t in HR_TABLE_ORDER
    }
    raw["departments"] = normalize_departments(raw["departments"])
    timings["extract"] = time.time() - t0

    # --- transform ----------------------------------------------------------
    t1 = time.time()
    emp = clean_employees(raw["employees"], conf.as_of).cache()
    rev = clean_reviews(raw["performance_reviews"]).cache()
    proj = clean_projects(raw["projects"], conf.as_of).cache()
    asn = clean_assignments(raw["project_assignments"]).cache()
    dept = clean_departments(raw["departments"]).cache()

    volume_stats = {
        t: {"extracted": raw[t].count()} for t in HR_TABLE_ORDER
    }
    for name, df in [
        ("employees", emp), ("performance_reviews", rev),
        ("projects", proj), ("project_assignments", asn),
        ("departments", dept),
    ]:
        volume_stats[name]["cleaned"] = df.count()

    summ_dept = dept_summary(dept, emp, proj, conf.as_of)
    summ_emp = emp_performance(emp, dept, rev)
    summ_work = project_workload(proj, asn)

    outputs = {
        "dim_departments": _select_existing(dept, OUTPUT_COLUMNS["dim_departments"]),
        "dim_employees": _select_existing(emp, OUTPUT_COLUMNS["dim_employees"]),
        "fact_performance_reviews": _select_existing(
            rev, OUTPUT_COLUMNS["fact_performance_reviews"]
        ),
        "fact_project_assignments": _select_existing(
            asn, OUTPUT_COLUMNS["fact_project_assignments"]
        ),
        "summary_dept_metrics": summ_dept,
        "summary_emp_performance": summ_emp,
        # NOTE: the reference computes project workload then silently
        # DROPS it from the load set (reference scripts/main.py:107-115).
        # We keep it — documented intentional divergence.
        "summary_project_workload": summ_work,
    }
    timings["transform"] = time.time() - t1

    # --- validate (V1-V9, fused) -------------------------------------------
    t2 = time.time()
    reports = [
        V.validate_employees(emp),
        V.validate_reviews(rev, employees=emp),
        V.validate_projects(proj),
        V.validate_assignments(asn, employees=emp, projects=proj),
    ]
    dq = V.dq_stats(reports)
    timings["validate"] = time.time() - t2

    # --- load (S5/S6) -------------------------------------------------------
    t3 = time.time()
    if conf.processed_dir:
        for name, df in outputs.items():
            write_csv(
                df,
                os.path.join(conf.processed_dir, name),
                single_file=True,
            )
    if conf.jdbc_url:
        for name, df in outputs.items():
            write_jdbc(
                df,
                jdbc_write_options(
                    conf.jdbc_url, name, conf.jdbc_user, conf.jdbc_password,
                    session_init="SET FOREIGN_KEY_CHECKS=0",
                ),
            )
    timings["load"] = time.time() - t3

    # --- SQL surface (SURVEY.md §3.3): every output table as a temp
    # view, so each report insight is a spark.sql one-liner ------------------
    register_output_views(spark, outputs)

    # --- report (S9, T1-T4, A5) --------------------------------------------
    t4 = time.time()
    report = generate_summary_report(outputs, proj, volume_stats, dq, conf.as_of)
    if conf.report_path:
        write_text_report(report, conf.report_path)
    timings["report"] = time.time() - t4
    timings["total"] = time.time() - t0

    for df in (emp, rev, proj, asn, dept):
        df.unpersist()

    return {
        "outputs": outputs,
        "volume_stats": volume_stats,
        "dq": dq,
        "report": report,
        "timings": timings,
    }

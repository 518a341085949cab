"""Summary builders: the three denormalized outputs (SURVEY.md §2.4-§2.5).

Join strategy at scale: the dimension side (departments — thousands of
rows at most) is explicitly broadcast; the employee/review/assignment
facts shuffle on their group keys once and Catalyst's partial+final
hash aggregation does map-side combine. No repartition hints needed —
AQE right-sizes post-shuffle partitions.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expr import dsum


def dept_summary(
    departments: DataFrame,
    employees_clean: DataFrame,
    projects_clean: DataFrame,
    as_of: dt.date,
) -> DataFrame:
    """summary_dept_metrics (reference scripts/transform.py:96-147).

    A1: employees per dept (count + avg salary)
    A2: active-project stats (P7 predicate parameterized on as_of)
    J1/J2: left joins back to the dept dimension
    C12: null-fill 0 for departments with no employees/projects
    """
    as_of_lit = F.lit(as_of.isoformat()).cast("date")

    emp_stats = employees_clean.groupBy("department_id").agg(
        F.count("employee_id").alias("total_employees"),
        F.round(F.avg("salary"), 2).alias("avg_salary"),
    )
    proj_stats = (
        projects_clean.filter(
            F.col("end_date").isNull() | (F.col("end_date") > as_of_lit)
        )
        .groupBy("department_id")
        .agg(
            F.count("project_id").alias("active_projects"),
            # decimal-exact sum (dsum): raw double F.sum is
            # accumulation-order-dependent in the last ulps at scale
            dsum("budget").alias("total_project_budget"),
        )
    )
    dims = departments.select("department_id", "department_name", "location")
    return (
        dims.join(F.broadcast(emp_stats), "department_id", "left")
        .join(F.broadcast(proj_stats), "department_id", "left")
        .select(
            "department_id",
            F.col("department_name").alias("name"),
            "location",
            F.coalesce("total_employees", F.lit(0)).cast("long").alias("total_employees"),
            F.coalesce("avg_salary", F.lit(0.0)).alias("avg_salary"),
            F.coalesce("active_projects", F.lit(0)).cast("long").alias("active_projects"),
            F.coalesce("total_project_budget", F.lit(0.0)).alias("total_project_budget"),
        )
    )


def emp_performance(
    employees_clean: DataFrame,
    departments: DataFrame,
    reviews_clean: DataFrame,
) -> DataFrame:
    """summary_emp_performance (reference scripts/transform.py:149-186).

    J3: employees ⟕ departments (broadcast dim) + 'Unknown' ghost-dept fill
    A3: per-employee review stats; pandas' order-dependent ``'last'``
        becomes ``max_by(rating, review_date)`` — order-free and
        deterministic after W3 dedup (SURVEY.md A3/W2).
    J4: employees ⟕ review stats; C12 null-fills for review-less employees.
    """
    rev_stats = reviews_clean.groupBy("employee_id").agg(
        F.round(F.avg("rating"), 2).alias("avg_rating"),
        F.count("rating").alias("review_count"),
        F.expr("max_by(rating, review_date)").alias("latest_rating"),
        F.max("review_date").alias("latest_review_date"),
    )
    dept_names = departments.select("department_id", "department_name")
    return (
        employees_clean.join(F.broadcast(dept_names), "department_id", "left")
        .join(rev_stats, "employee_id", "left")
        .select(
            "employee_id",
            "name",
            F.coalesce("department_name", F.lit("Unknown")).alias("department_name"),
            "salary",
            "salary_bucket",
            "tenure_years",
            "avg_rating",
            F.coalesce("review_count", F.lit(0)).cast("long").alias("review_count"),
            "latest_rating",
            "latest_review_date",
        )
    )


def project_workload(
    projects_clean: DataFrame,
    assignments_clean: DataFrame,
) -> DataFrame:
    """project workload summary (reference scripts/transform.py:188-206).

    A4: per-project exact distinct team size + allocation sums. Exact
    ``countDistinct`` (the reference uses nunique), so the semantics
    stay exact; at 100 TB ``approx_count_distinct`` would be the
    cheaper, approximate form.
    J5: projects ⟕ workload stats; C12 null-fills.
    """
    workload = assignments_clean.groupBy("project_id").agg(
        F.countDistinct("employee_id").alias("total_team_size"),
        dsum("allocation_percentage").alias("total_allocation"),
        F.round(F.avg("allocation_percentage"), 1).alias("avg_allocation"),
    )
    return (
        projects_clean.select(
            "project_id", "project_name", "department_id", "budget",
            "project_duration_days", "daily_budget_alloc",
        )
        .join(workload, "project_id", "left")
        .select(
            "project_id",
            "project_name",
            "department_id",
            "budget",
            "project_duration_days",
            "daily_budget_alloc",
            F.coalesce("total_team_size", F.lit(0)).cast("long").alias("total_team_size"),
            F.coalesce("total_allocation", F.lit(0.0)).alias("total_allocation"),
            F.coalesce("avg_allocation", F.lit(0.0)).alias("avg_allocation"),
        )
    )

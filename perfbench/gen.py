"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (numpy ``default_rng``),
writes its files into a directory of its own and writes ``truth.json``
beside them: the answers the correctness gates compare against, computed
here with pandas/numpy and never with the engine under test.

Generation is cached by (workload, seed) and is never timed.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The pipeline's pinned clock (employee_analytics_etl_spark.config).
AS_OF = dt.date(2025, 12, 29)

HR_EMPLOYEES = 4000
STAR_CUSTOMERS = 750
STREAM_FILES = 8
STREAM_EVENTS = 40_000

EMP_STATUS = ["active", "inactive", "terminated", "leave"]


def _dates(rng, n, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def _iso(d) -> pd.Series:
    """ISO yyyy-MM-dd strings; NaT becomes an empty CSV field."""
    s = pd.Series(d)
    out = s.dt.strftime("%Y-%m-%d")
    return out.where(s.notna(), None)


def _plant(rng, n: int, share: float, taken: set) -> np.ndarray:
    """Pick ``max(1, share*n)`` row indices not used by another edge class,
    so every planted class has an exact, known count."""
    k = max(1, int(n * share))
    free = np.setdiff1d(np.arange(n), np.fromiter(taken, int, len(taken)))
    idx = rng.choice(free, k, replace=False)
    taken.update(idx.tolist())
    return idx


# --------------------------------------------------------------------------
# hr_etl: the reference's five HR CSVs with every FIXTURES.md edge class
# --------------------------------------------------------------------------

def hr_tables(seed: int, n_emp: int = HR_EMPLOYEES) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_dept = max(8, n_emp // 200)
    n_proj = max(20, n_emp // 10)

    # departments: one with no employees and no projects (the last id),
    # one with a null manager, and one whole-row duplicate (distinct drops it)
    dept_ids = np.arange(1, n_dept + 1)
    departments = pd.DataFrame({
        "department_id": dept_ids,
        "department_name": [f"dept {i} of seed" for i in dept_ids],
        "location": rng.choice(["NYC", "SF", "LA", "CHI", "AUS"], n_dept),
        "budget": rng.integers(100, 5000, n_dept) * 1000.0,
        "manager_id": pd.array(rng.integers(1, n_emp, n_dept), dtype="Int64"),
    })
    departments.loc[1, "manager_id"] = pd.NA
    departments = pd.concat([departments, departments.iloc[[2]]], ignore_index=True)
    staffed = dept_ids[:-1]  # the last department stays empty

    # employees
    emp_ids = np.arange(1, n_emp + 1)
    salary = rng.integers(30, 150, n_emp) * 1000.0
    salary[rng.choice(n_emp, 8, replace=False)] = [48000, 50000, 50000, 72000,
                                                  75000, 80000, 80000, 85000]
    employees = pd.DataFrame({
        "employee_id": emp_ids,
        "name": [f"Emp{i:06d}" for i in emp_ids],
        "department_id": pd.array(rng.choice(staffed, n_emp), dtype="Int64"),
        "salary": salary,
        "hire_date": _dates(rng, n_emp, "2005-01-01", 7000),
        "manager_id": pd.array(rng.integers(1, n_emp, n_emp), dtype="Int64"),
        "bonus_eligible": rng.choice(["Y", "N"], n_emp),
        "status": rng.choice(["active", "terminated", "leave"], n_emp, p=[0.9, 0.05, 0.05]),
    })
    taken: set = set()
    employees.loc[_plant(rng, n_emp, 0.03, taken), "status"] = "inactive"
    i = _plant(rng, n_emp, 0.01, taken)
    employees.loc[i, "salary"] = 0.0
    employees.loc[i, "status"] = "active"
    employees.loc[_plant(rng, n_emp, 0.01, taken), "department_id"] = pd.NA
    employees.loc[_plant(rng, n_emp, 0.005, taken), "department_id"] = n_dept + 50  # ghost
    employees.loc[_plant(rng, n_emp, 0.02, taken), "manager_id"] = pd.NA
    employees.loc[_plant(rng, n_emp, 0.002, taken), "name"] = None
    employees.loc[_plant(rng, n_emp, 0.002, taken), "status"] = None
    employees.loc[_plant(rng, n_emp, 0.002, taken), "status"] = "retired"
    i = _plant(rng, n_emp, 0.002, taken)
    employees.loc[i, "salary"] = -1000.0
    employees.loc[i, "status"] = "active"
    employees.loc[_plant(rng, n_emp, 0.002, taken), "salary"] = np.nan
    employees.loc[_plant(rng, n_emp, 0.002, taken), "hire_date"] = pd.NaT
    # duplicated primary keys: copy the id of a clean row onto another row
    src = _plant(rng, n_emp, 0.001, taken)
    dst = _plant(rng, n_emp, 0.001, taken)
    employees.loc[dst, "employee_id"] = employees.loc[src, "employee_id"].to_numpy()

    # performance_reviews: 3 per employee on distinct dates, ~5% reviewless
    reviewed = rng.choice(emp_ids, int(n_emp * 0.95), replace=False)
    per = 3
    r_emp = np.repeat(reviewed, per)
    offs = np.tile(np.arange(per) * 200, reviewed.size) + rng.integers(0, 150, r_emp.size)
    r_date = np.datetime64("2019-01-01", "D") + offs.astype("timedelta64[D]")
    n_rev = r_emp.size
    reviews = pd.DataFrame({
        "review_id": np.arange(1, n_rev + 1),
        "employee_id": r_emp,
        "review_date": r_date,
        "rating": np.round(rng.uniform(1.0, 5.0, n_rev), 1),
        "reviewer_id": pd.array(rng.integers(1, n_emp, n_rev), dtype="Int64"),
    })
    taken = set()
    reviews.loc[_plant(rng, n_rev, 0.01, taken), "rating"] = rng.choice([0.5, 5.5, 7.0])
    reviews.loc[_plant(rng, n_rev, 0.002, taken), "rating"] = np.nan
    i = _plant(rng, n_rev, 0.01, taken)
    reviews.loc[i, "reviewer_id"] = reviews.loc[i, "employee_id"].to_numpy()
    reviews.loc[_plant(rng, n_rev, 0.02, taken), "reviewer_id"] = pd.NA
    reviews.loc[_plant(rng, n_rev, 0.002, taken), "employee_id"] = n_emp + 1000  # unknown
    # duplicate (employee_id, review_date) keys with in-range ratings
    dup = reviews.iloc[_plant(rng, n_rev, 0.01, taken)].copy()
    dup["review_id"] = np.arange(n_rev + 1, n_rev + 1 + len(dup))
    dup["rating"] = np.round(rng.uniform(1.0, 5.0, len(dup)), 1)
    reviews = pd.concat([reviews, dup], ignore_index=True)

    # projects
    p_ids = np.arange(1, n_proj + 1)
    start = _dates(rng, n_proj, "2020-01-01", 2000)
    end = start + rng.integers(30, 900, n_proj).astype("timedelta64[D]")
    projects = pd.DataFrame({
        "project_id": p_ids,
        "project_name": [f"Project {i}" for i in p_ids],
        "department_id": pd.array(rng.choice(staffed, n_proj), dtype="Int64"),
        "start_date": start,
        "end_date": pd.Series(end),
        "budget": rng.integers(10, 900, n_proj) * 1000.0,
        "status": rng.choice(["completed", "in_progress"], n_proj),
    })
    taken = set()
    projects.loc[_plant(rng, n_proj, 0.1, taken), "end_date"] = pd.NaT
    i = _plant(rng, n_proj, 0.05, taken)
    projects.loc[i, "end_date"] = pd.Timestamp(AS_OF) + pd.Timedelta(days=90)
    projects.loc[_plant(rng, n_proj, 0.03, taken), "budget"] = np.nan
    projects.loc[_plant(rng, n_proj, 0.03, taken), "budget"] = rng.choice([0.0, -5000.0])
    i = _plant(rng, n_proj, 0.03, taken)
    projects.loc[i, "end_date"] = projects.loc[i, "start_date"] - pd.Timedelta(days=10)
    projects.loc[_plant(rng, n_proj, 0.02, taken), "project_name"] = None
    projects.loc[_plant(rng, n_proj, 0.02, taken), "department_id"] = pd.NA

    # project_assignments: 2 per employee
    n_asn = 2 * n_emp
    a_start = _dates(rng, n_asn, "2020-01-01", 2000)
    assignments = pd.DataFrame({
        "assignment_id": np.arange(1, n_asn + 1),
        "employee_id": np.repeat(emp_ids, 2),
        "project_id": rng.choice(p_ids, n_asn),
        "role": rng.choice(["dev", "lead", "qa", "pm"], n_asn),
        "allocation_percentage": rng.integers(5, 100, n_asn).astype(float),
        "start_date": a_start,
        "end_date": pd.Series(a_start + rng.integers(10, 600, n_asn).astype("timedelta64[D]")),
    })
    taken = set()
    assignments.loc[_plant(rng, n_asn, 0.01, taken), "allocation_percentage"] = 150.0
    assignments.loc[_plant(rng, n_asn, 0.003, taken), "allocation_percentage"] = -10.0
    assignments.loc[_plant(rng, n_asn, 0.002, taken), "allocation_percentage"] = np.nan
    i = _plant(rng, n_asn, 0.01, taken)
    assignments.loc[i, "end_date"] = assignments.loc[i, "start_date"] - pd.Timedelta(days=3)
    assignments.loc[_plant(rng, n_asn, 0.05, taken), "end_date"] = pd.NaT
    assignments.loc[_plant(rng, n_asn, 0.002, taken), "employee_id"] = n_emp + 2000
    assignments.loc[_plant(rng, n_asn, 0.002, taken), "project_id"] = n_proj + 3000

    return {
        "departments": departments,
        "employees": employees,
        "performance_reviews": reviews,
        "projects": projects,
        "project_assignments": assignments,
    }


def hr_truth(tables: dict[str, pd.DataFrame], as_of: dt.date = AS_OF) -> dict:
    """Expected volume stats, data-quality findings and output row counts,
    from the reference's pandas semantics (FIXTURES.md, reference
    scripts/transform.py and scripts/validation.py)."""
    emp, rev = tables["employees"], tables["performance_reviews"]
    proj, asn, dept = tables["projects"], tables["project_assignments"], tables["departments"]

    emp_c = emp[(emp.status != "inactive") & (emp.salary != 0)]
    rev_c = rev.sort_values("review_id").drop_duplicates(["employee_id", "review_date"])
    rev_c = rev_c[rev_c.rating.between(1.0, 5.0)]
    proj_c = proj[(proj.budget > 0)]
    proj_c = proj_c[proj_c.end_date.isna() | (proj_c.start_date <= proj_c.end_date)]
    asn_c = asn[asn.allocation_percentage <= 100]
    asn_c = asn_c[asn_c.end_date.isna() | (asn_c.start_date <= asn_c.end_date)]
    dept_c = dept.drop_duplicates()

    def dup_keys(s: pd.Series) -> int:
        return int((s.value_counts() > 1).sum())

    def ri(child: pd.Series, parent: pd.Series) -> int:
        keys = set(child.dropna().astype(int)) - {-1}
        return len(keys - set(parent.dropna().astype(int)))

    results = {
        "employees": {
            "pk_complete_employee_id": 0,
            "complete_name": int(emp_c.name.isna().sum()),
            "complete_salary": int(emp_c.salary.isna().sum()),
            "complete_hire_date": int(emp_c.hire_date.isna().sum()),
            "enum_status": int((~emp_c.status.isin(EMP_STATUS)).sum()),
            "active_salary_positive": int(((emp_c.status == "active") & (emp_c.salary <= 0)).sum()),
            "pk_unique_employee_id": dup_keys(emp_c.employee_id),
        },
        "performance_reviews": {
            "pk_complete_review_id": 0,
            "complete_employee_id": 0,
            "complete_review_date": 0,
            "range_rating": 0,
            "pk_unique_review_id": 0,
            "ri_employee_id": ri(rev_c.employee_id, emp_c.employee_id),
        },
        "projects": {
            "pk_complete_project_id": 0,
            "complete_project_name": int(proj_c.project_name.isna().sum()),
            "complete_start_date": 0,
            "positive_budget": 0,
            "pk_unique_project_id": 0,
        },
        "project_assignments": {
            "pk_complete_assignment_id": 0,
            "range_allocation_percentage": int((asn_c.allocation_percentage < 0).sum()),
            "ri_employee_id": ri(asn_c.employee_id, emp_c.employee_id),
            "ri_project_id": ri(asn_c.project_id, proj_c.project_id),
        },
    }
    critical = sum(1 for r in results.values() for k, n in r.items()
                   if n and (k.startswith("pk_complete") or k == "pk_unique_employee_id"))
    issues = sorted(f"{t}: {k}: {n} violating rows"
                    for t, r in results.items() for k, n in r.items() if n)
    n_checks = sum(len(r) for r in results.values())
    cleaned = {"departments": len(dept_c), "employees": len(emp_c),
               "performance_reviews": len(rev_c), "projects": len(proj_c),
               "project_assignments": len(asn_c)}
    return {
        "input_rows": int(sum(len(t) for t in tables.values())),
        "volume_stats": {t: {"extracted": len(tables[t]), "cleaned": cleaned[t]}
                         for t in tables},
        "dq": {"total_checks": n_checks, "failed": len(issues),
               "passed": n_checks - len(issues), "critical_issues": critical,
               "issues": issues},
        "output_rows": {
            "dim_departments": cleaned["departments"],
            "dim_employees": cleaned["employees"],
            "fact_performance_reviews": cleaned["performance_reviews"],
            "fact_project_assignments": cleaned["project_assignments"],
            "summary_dept_metrics": cleaned["departments"],
            "summary_emp_performance": cleaned["employees"],
            "summary_project_workload": cleaned["projects"],
        },
    }


def write_hr(out_dir: str, seed: int, n_emp: int = HR_EMPLOYEES) -> dict:
    tables = hr_tables(seed, n_emp)
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        df = df.copy()
        for c in df.columns:
            if c.endswith("_date"):
                df[c] = _iso(df[c])
        df.to_csv(os.path.join(out_dir, f"{name}.csv"), index=False)
    return hr_truth(tables)


# --------------------------------------------------------------------------
# star_analytics: the TPC-H-shaped star schema of the query registry, plus
# an event backlog split into files for the streaming jobs
# --------------------------------------------------------------------------

def _ts_us(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype="datetime64[us]"), type=pa.timestamp("us"))


def star_tables(seed: int, n_cust: int = STAR_CUSTOMERS) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_supp, n_part = max(10, n_cust // 15), max(100, n_cust * 4 // 3)
    n_ord, n_line = n_cust * 10, n_cust * 40
    n_ev, n_users = n_cust * 20 // 3, max(20, n_cust // 10)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(["small", "red", "blue", "green", "large"], n_part),
            rng.choice(["ring", "widget", "bolt", "gear", "panel"], n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    o_date = np.datetime64("1995-01-01", "D") + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": _ts_us(o_date),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    l_order = rng.integers(0, n_ord, n_line)
    ship = o_date[l_order] + rng.integers(1, 120, n_line).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": money(900, 105000, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts_us(ship),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem, "events": events_table(rng, n_ev, n_users)}


def events_table(rng, n: int, n_users: int) -> pa.Table:
    """Time-ordered click-stream events over 30 days (µs timestamps)."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    return pa.table({
        "event_id": np.arange(n),
        "ts": _ts_us(start + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n,
                                 p=[0.4, 0.05, 0.1, 0.05, 0.4]),
        "value": rng.integers(1, 49000, n) / 100.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_star(out_dir: str, seed: int, n_cust: int = STAR_CUSTOMERS) -> dict:
    """Star tables as one parquet file each, plus ``stream/``: an event
    backlog of STREAM_FILES parquet files for the streaming jobs."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, n_cust)
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    rng = np.random.default_rng([seed, 1])
    backlog = events_table(rng, STREAM_EVENTS, 500)
    sdir = os.path.join(out_dir, "stream")
    os.makedirs(sdir, exist_ok=True)
    bounds = np.linspace(0, backlog.num_rows, STREAM_FILES + 1).astype(int)
    for k in range(STREAM_FILES):
        part = backlog.slice(bounds[k], bounds[k + 1] - bounds[k])
        pq.write_table(part, os.path.join(sdir, f"events-{k:03d}.parquet"))
    ev = backlog.to_pandas()
    return {
        "rows": {n: tb.num_rows for n, tb in tables.items()},
        "stream_rows": backlog.num_rows,
        "stream_counts": ev.groupby("event_type").size().astype(int).to_dict(),
    }


# --------------------------------------------------------------------------
# corpus_curation: documents with planted duplicates, embeddings with
# planted near neighbours
# --------------------------------------------------------------------------

CORPUS_DOCS = 1500
DOC_TOKENS = 50
EMBED_VECTORS = 1500
EMBED_QUERIES = 150
EMBED_DIM = 64
TOP_K = 5

# one stopword set per language, disjoint across languages, so that the
# engine's stopword language-ID has exactly one answer per document
DOC_LANGS = {"en": ["the", "and", "of", "to", "is", "in"],
             "es": ["el", "que", "y", "los"],
             "de": ["der", "die", "das", "und", "ist", "nicht"],
             "fr": ["le", "les", "et", "est", "des"]}


def corpus_tables(seed: int, n_docs: int = CORPUS_DOCS) -> tuple[pd.DataFrame, dict]:
    """Documents of DOC_TOKENS words; 25 % of the output rows are planted
    duplicates of other rows, one third exact copies and the rest copies
    with two words replaced."""
    rng = np.random.default_rng(seed)
    syll = np.array(["ka", "lo", "mi", "ne", "ru", "ta", "vo", "zi", "pe", "su"])
    vocab = np.unique(["".join(rng.choice(syll, 3)) + "x" for _ in range(3000)])
    langs = np.array(list(DOC_LANGS))
    n_base = n_docs * 3 // 4
    doc_lang = rng.choice(langs, n_base, p=[0.7, 0.1, 0.1, 0.1])
    texts = []
    for lang in doc_lang:
        words = rng.choice(vocab, DOC_TOKENS).astype(object)
        pos = rng.choice(DOC_TOKENS, 8, replace=False)
        words[pos] = rng.choice(DOC_LANGS[lang], 8)
        texts.append(" ".join(words))
    n_dup = n_docs - n_base
    src = rng.choice(n_base, n_dup, replace=False)
    exact = np.zeros(n_dup, bool)
    exact[: n_dup // 3] = True
    for i, (s, is_exact) in enumerate(zip(src, exact)):
        words = texts[s].split()
        if not is_exact:
            for p in rng.choice(DOC_TOKENS, 2, replace=False):
                words[p] = rng.choice(vocab)
        texts.append(" ".join(words))
        doc_lang = np.append(doc_lang, doc_lang[s])
    order = rng.permutation(n_docs)  # doc ids do not reveal which rows are copies
    ids = np.empty(n_docs, np.int64)
    ids[order] = np.arange(n_docs)
    docs = pd.DataFrame({"doc_id": ids, "text": texts}).sort_values("doc_id")

    groups: dict[str, list[int]] = {}
    for i, t in zip(ids, texts):
        groups.setdefault(t, []).append(int(i))
    truth = {
        "docs": n_docs,
        "lang_counts": {k: int(v) for k, v in zip(*np.unique(doc_lang, return_counts=True))},
        "exact_groups": sorted([min(g), len(g)] for g in groups.values() if len(g) > 1),
        "exact_pairs": sorted([a, b] for g in groups.values()
                              for i, a in enumerate(sorted(g)) for b in sorted(g)[i + 1:]),
        "near_pairs": sorted(sorted([int(ids[s]), int(ids[n_base + i])])
                             for i, s in enumerate(src) if not exact[i]),
    }
    return docs, truth


def embedding_tables(seed: int) -> tuple[pa.Table, pa.Table, dict]:
    """Gaussian vectors; each query vector has a planted near neighbour
    (the query plus small noise). Truth: the exact top-k by cosine."""
    rng = np.random.default_rng([seed, 2])
    base = rng.standard_normal((EMBED_VECTORS, EMBED_DIM)).astype(np.float32)
    q_idx = np.arange(EMBED_QUERIES)
    near = base[q_idx] + 0.05 * rng.standard_normal((EMBED_QUERIES, EMBED_DIM)).astype(np.float32)
    vecs = np.vstack([base, near])
    ids = np.arange(len(vecs))
    unit = vecs.astype(np.float64) / np.linalg.norm(vecs.astype(np.float64), axis=1, keepdims=True)
    sims = unit[q_idx] @ unit.T
    sims[q_idx, q_idx] = -np.inf
    topk = np.argsort(-sims, axis=1, kind="stable")[:, :TOP_K]

    def table(rows):
        return pa.table({"vec_id": ids[rows],
                         "embedding": pa.array(list(vecs[rows]), pa.list_(pa.float32()))})

    truth = {"queries": EMBED_QUERIES, "k": TOP_K,
             "planted": {int(q): int(EMBED_VECTORS + q) for q in q_idx},
             "exact_topk": {int(q): [int(x) for x in topk[q]] for q in q_idx}}
    return table(q_idx), table(ids), truth


def write_corpus(out_dir: str, seed: int) -> dict:
    os.makedirs(out_dir, exist_ok=True)
    docs, truth = corpus_tables(seed)
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(out_dir, "documents.parquet"))
    queries, vectors, etruth = embedding_tables(seed)
    pq.write_table(queries, os.path.join(out_dir, "queries.parquet"))
    pq.write_table(vectors, os.path.join(out_dir, "embeddings.parquet"))
    truth["embeddings"] = etruth
    truth["vectors"] = vectors.num_rows
    return truth


GENERATORS = {"hr_etl": write_hr, "star_analytics": write_star,
              "corpus_curation": write_corpus}


def generate(workload: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """Return (input dir, truth) for ``workload`` at ``seed``, generating
    into ``cache_root`` on first use."""
    out_dir = os.path.join(cache_root, f"{workload}-seed{seed}")
    truth_path = os.path.join(out_dir, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as fh:
            return out_dir, json.load(fh)
    truth = GENERATORS[workload](out_dir, seed)
    tmp = truth_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(truth, fh, indent=1, sort_keys=True)
    os.replace(tmp, truth_path)
    return out_dir, truth

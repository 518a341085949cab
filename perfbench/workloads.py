"""The benchmark's workloads: each is a fixed script of requests that one
closed-loop client sends to the engine, and a correctness check per
request.

A request is timed from its first call into the engine until its result
is materialized; its check runs afterwards, outside the timed region.
Spans name the layer each call goes into (see spans.py); with tracing
off they cost nothing.
"""

from __future__ import annotations

import glob
import hashlib
import os
from dataclasses import dataclass, field
from typing import Callable

# The engine is imported lazily, inside the functions below, so that
# importing this module needs only the benchmark's own files.


@dataclass
class Request:
    name: str
    run: Callable[["Context"], object]      # timed
    check: Callable[["Context", object], str | None]  # untimed; error text or None
    rows: int                                # input rows the request reads


@dataclass
class Context:
    spark: object
    tracer: object
    data_dir: str
    out_dir: str
    truth: dict
    oracle: dict
    seq: int = 0
    stream: dict | None = None
    violations: int = 0
    checked: set = field(default_factory=set)
    curation: dict = field(default_factory=dict)


# --------------------------------------------------------------------------
# hr_etl: the reference ETL job, one output table per request
# --------------------------------------------------------------------------

HR_INPUTS = {
    # output table: the input tables its chain reads
    "dim_employees": ["employees"],
    "dim_departments": ["departments"],
    "fact_performance_reviews": ["performance_reviews"],
    "fact_project_assignments": ["project_assignments"],
    "summary_dept_metrics": ["departments", "employees", "projects"],
    "summary_emp_performance": ["employees", "departments", "performance_reviews"],
    "summary_project_workload": ["projects", "project_assignments"],
}
VALIDATED = ["employees", "performance_reviews", "projects", "project_assignments"]

CLEANERS = {
    "employees": "clean_employees",
    "performance_reviews": "clean_reviews",
    "projects": "clean_projects",
    "project_assignments": "clean_assignments",
    "departments": "clean_departments",
}


def _extract_clean(ctx: Context, tables: list[str]) -> dict:
    from employee_analytics_etl_spark.config import DEFAULT_AS_OF
    from employee_analytics_etl_spark.operators import cleaning
    from employee_analytics_etl_spark.sources import readers

    tr = ctx.tracer
    raw = {}
    with tr.span("sources.read_csv"):
        for t in tables:
            raw[t] = readers.read_csv_table(ctx.spark, os.path.join(ctx.data_dir, f"{t}.csv"), t)
        if "departments" in raw:
            raw["departments"] = readers.normalize_departments(raw["departments"])
    out = {}
    with tr.span("operators.cleaning"):
        for t, df in raw.items():
            fn = getattr(cleaning, CLEANERS[t])
            out[t] = fn(df, DEFAULT_AS_OF) if t in ("employees", "projects") else fn(df)
    return out


def _load_table(table: str) -> Callable[[Context], object]:
    def run(ctx: Context):
        from employee_analytics_etl_spark.config import DEFAULT_AS_OF
        from employee_analytics_etl_spark.operators import summaries
        from employee_analytics_etl_spark.plans.pipeline import OUTPUT_COLUMNS
        from employee_analytics_etl_spark.sources import sinks

        c = _extract_clean(ctx, HR_INPUTS[table])
        with ctx.tracer.span("operators.summaries"):
            if table == "summary_emp_performance":
                df = summaries.emp_performance(c["employees"], c["departments"],
                                               c["performance_reviews"])
            elif table == "summary_project_workload":
                df = summaries.project_workload(c["projects"], c["project_assignments"])
            elif table == "summary_dept_metrics":
                df = summaries.dept_summary(c["departments"], c["employees"],
                                            c["projects"], DEFAULT_AS_OF)
            else:
                src = c[HR_INPUTS[table][0]]
                df = src.select(*[x for x in OUTPUT_COLUMNS[table] if x in src.columns])
        ctx.seq += 1
        path = os.path.join(ctx.out_dir, f"{table}-{ctx.seq}")
        with ctx.tracer.span("sources.write_csv", table=table):
            sinks.write_csv(df, path, single_file=True)
        return path

    return run


def _csv_rows(path: str) -> int:
    n = 0
    for f in glob.glob(os.path.join(path, "part-*.csv")):
        with open(f, "rb") as fh:
            n += max(0, sum(1 for _ in fh) - 1)  # minus the header line
    return n


def _check_table(table: str):
    def check(ctx: Context, path) -> str | None:
        want = ctx.truth["output_rows"][table]
        got = _csv_rows(path)
        return None if got == want else f"{table}: {got} rows written, expected {want}"

    return check


def _validate(ctx: Context):
    from employee_analytics_etl_spark.plans import validation as V

    c = _extract_clean(ctx, VALIDATED)
    emp, proj = c["employees"], c["projects"]
    with ctx.tracer.span("plans.validation"):
        reports = [V.validate_employees(emp),
                   V.validate_reviews(c["performance_reviews"], employees=emp),
                   V.validate_projects(proj),
                   V.validate_assignments(c["project_assignments"], employees=emp,
                                          projects=proj)]
        return V.dq_stats(reports)


def _check_validate(ctx: Context, dq: dict) -> str | None:
    want = ctx.truth["dq"]
    got = dict(dq, issues=sorted(dq["issues"]))
    ctx.violations += sum(int(i.split(": ")[2].split()[0]) for i in got["issues"])
    return None if got == want else f"data-quality stats {got} != expected {want}"


def _report(ctx: Context):
    from employee_analytics_etl_spark.operators import summaries
    from employee_analytics_etl_spark.plans import reporting
    from employee_analytics_etl_spark.sources import sinks

    c = _extract_clean(ctx, ["employees", "departments", "performance_reviews"])
    with ctx.tracer.span("operators.summaries"):
        ep = summaries.emp_performance(c["employees"], c["departments"],
                                       c["performance_reviews"])
    with ctx.tracer.span("plans.reporting"):
        top = reporting.top_employees_by_rating(ep).collect()
        tenure = reporting.top_employee_by_tenure(ep).collect()
    text = "\n".join([f"top: {[r['name'] for r in top]}", f"tenure: {tenure[0]['name']}"])
    ctx.seq += 1
    with ctx.tracer.span("sources.write_report"):
        sinks.write_text_report(text, os.path.join(ctx.out_dir, f"report-{ctx.seq}.txt"))
    return top


def _check_report(ctx: Context, top) -> str | None:
    return None if len(top) == 5 else f"report lists {len(top)} top performers, expected 5"


def hr_etl_script(truth: dict) -> list[Request]:
    rows = {t: v["extracted"] for t, v in truth["volume_stats"].items()}
    reqs = [Request(f"load:{t}", _load_table(t), _check_table(t),
                    sum(rows[x] for x in HR_INPUTS[t])) for t in HR_INPUTS]
    reqs.append(Request("validate", _validate, _check_validate,
                        sum(rows[t] for t in VALIDATED)))
    reqs.append(Request("report", _report, _check_report,
                        rows["employees"] + rows["departments"] + rows["performance_reviews"]))
    return reqs


# --------------------------------------------------------------------------
# star_analytics: registry queries over the star schema + a stream drain
# --------------------------------------------------------------------------

STAR_QUERIES = {
    # query: tables it reads
    "tpch_q6_revenue_delta": ["lineitem"],
    "tpch_q3_shipping_topk": ["customer", "orders", "lineitem"],
    "tpch_q13_customer_distribution": ["customer", "orders"],
    "tpch_q18_large_orders": ["customer", "orders", "lineitem"],
    "nation_account_summary": ["customer", "nation", "orders", "region"],
    "customer_order_profile": ["customer", "nation", "orders"],
    "top_customers_by_spend": ["customer", "orders"],
    "running_spend_by_customer": ["orders"],
    "events_tumbling_hour": ["events"],
    "events_sessionize": ["events"],
}


def registry():
    from employee_analytics_etl_spark.plans import (  # noqa: F401  (registers queries)
        registry,
        registry_ext,
        registry_funcs,
        registry_more,
        registry_r5,
        registry_r6,
        registry_r7,
        registry_r8,
        registry_r9,
        registry_r10,
        registry_r11,
        registry_r12,
    )

    return registry


def result_digest(rows, cols) -> str:
    """Order-insensitive digest of a result, normalized as the repo's
    self-check normalizes values (tools/selfcheck.py)."""
    from tools.selfcheck import df_key

    key = (sorted(cols), df_key(rows, cols))
    return hashlib.sha256(repr(key).encode()).hexdigest()


def oracle_digests(data_dir: str) -> dict[str, str]:
    """DuckDB answers to each query's oracle SQL over the generated files."""
    import duckdb

    reg = registry()
    con = duckdb.connect()
    try:
        for f in glob.glob(os.path.join(data_dir, "*.parquet")):
            name = os.path.basename(f)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
        out = {}
        for q in STAR_QUERIES:
            res = con.execute(reg.ORACLE[q])
            out[q] = result_digest(res.fetchall(), [d[0] for d in res.description])
        return out
    finally:
        con.close()


def _query(name: str):
    def run(ctx: Context):
        reg = registry()
        with ctx.tracer.span("plans.registry.build", query=name):
            df = reg.QUERIES[name](ctx.spark, ctx.data_dir)
        with ctx.tracer.span("plans.registry.exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        return df

    return run


def _check_query(name: str):
    def check(ctx: Context, df) -> str | None:
        # only the query's first result in a run is compared (it is the
        # same plan over the same files every time)
        if name in ctx.checked:
            return None
        ctx.checked.add(name)
        got = result_digest(df.collect(), df.columns)
        return None if got == ctx.oracle[name] else f"{name}: result differs from DuckDB oracle"

    return check


STREAM_FILES_PER_TRIGGER = 4


def _stream(ctx: Context):
    from employee_analytics_etl_spark.streaming import jobs

    ctx.seq += 1
    src = os.path.join(ctx.data_dir, "stream")
    with ctx.tracer.span("streaming.build"):
        events = jobs.build_events_stream(ctx.spark, src, glob="*.parquet",
                                          max_files_per_trigger=STREAM_FILES_PER_TRIGGER)
        agg = jobs.tumbling_counts_stream(events)
    name = f"bench_tumbling_{ctx.seq}"
    with ctx.tracer.span("streaming.drain"):
        q = (agg.writeStream.outputMode("complete").format("memory").queryName(name)
             .option("checkpointLocation", os.path.join(ctx.out_dir, f"ckpt-{ctx.seq}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return name, q.recentProgress


def _check_stream(ctx: Context, res) -> str | None:
    name, progress = res
    ctx.stream = {"progress": progress}
    rows = ctx.spark.table(name).groupBy().sum("n_events").collect()[0][0]
    ctx.spark.catalog.dropTempView(name)
    want = ctx.truth["stream_rows"]
    return None if rows == want else f"tumbling totals {rows} != input rows {want}"


def star_script(truth: dict) -> list[Request]:
    rows = truth["rows"]
    reqs = [Request(q, _query(q), _check_query(q), sum(rows[t] for t in tabs))
            for q, tabs in STAR_QUERIES.items()]
    reqs.append(Request("stream:tumbling_counts", _stream, _check_stream, truth["stream_rows"]))
    return reqs


# --------------------------------------------------------------------------
# corpus_curation: the training-data curation chain
# --------------------------------------------------------------------------

# Floors for the approximate operators, set below the recall measured on
# seeds 1-10 (MinHash planted pairs >= 0.96, IVF planted neighbours >= 0.8)
MINHASH_PAIR_RECALL_FLOOR = 0.9
COMPONENT_PAIR_RECALL_FLOOR = 0.9
IVF_PLANTED_RECALL_FLOOR = 0.7


def _docs(ctx: Context):
    with ctx.tracer.span("sources.read_parquet"):
        return ctx.spark.read.parquet(os.path.join(ctx.data_dir, "documents.parquet"))


def _lang_quality(ctx: Context):
    from employee_analytics_etl_spark.operators import text

    docs = _docs(ctx)
    with ctx.tracer.span("operators.text"):
        scored = text.with_quality_score(text.with_lang_id(docs))
        return scored.groupBy("lang_pred").count().collect()


def _check_lang(ctx: Context, rows) -> str | None:
    got = {r["lang_pred"]: r["count"] for r in rows}
    want = ctx.truth["lang_counts"]
    return None if got == want else f"language counts {got} != expected {want}"


def _exact(ctx: Context):
    from employee_analytics_etl_spark.operators import dedup

    docs = _docs(ctx)
    with ctx.tracer.span("operators.dedup.exact"):
        return dedup.exact_dedup_groups(docs).filter("n_copies > 1").collect()


def _check_exact(ctx: Context, rows) -> str | None:
    got = sorted([r["canonical_id"], r["n_copies"]] for r in rows)
    want = ctx.truth["exact_groups"]
    return None if got == want else f"{len(got)} exact groups != expected {len(want)}"


def _planted_pairs(ctx: Context) -> set:
    return {tuple(p) for p in ctx.truth["near_pairs"]}


def _minhash(ctx: Context):
    from employee_analytics_etl_spark.operators import dedup

    docs = _docs(ctx)
    with ctx.tracer.span("operators.dedup.minhash"):
        return dedup.minhash_lsh_candidates(docs).collect()


def _check_minhash(ctx: Context, rows) -> str | None:
    got = {(r["id_a"], r["id_b"]) for r in rows}
    planted = _planted_pairs(ctx)
    exact = {tuple(p) for p in ctx.truth["exact_pairs"]}
    recall = len(got & planted) / len(planted)
    ctx.curation.update(candidates=len(got), recall=recall,
                        precision=len(got & (planted | exact)) / max(1, len(got)))
    if not exact <= got:
        return f"{len(exact - got)} exact copies are not MinHash candidates"
    if recall < MINHASH_PAIR_RECALL_FLOOR:
        return f"MinHash planted-pair recall {recall:.3f} < {MINHASH_PAIR_RECALL_FLOOR}"
    return None


def _components(ctx: Context):
    from employee_analytics_etl_spark.operators import dedup

    docs = _docs(ctx)
    with ctx.tracer.span("operators.dedup.components"):
        edges = dedup.minhash_lsh_candidates(docs)
        nodes = docs.select(docs["doc_id"].alias("id"))
        return dedup.connected_components(nodes, edges).collect()


def _check_components(ctx: Context, rows) -> str | None:
    label = {r["id"]: r["cluster_id"] for r in rows}
    if len(label) != ctx.truth["docs"]:
        return f"{len(label)} documents labelled, expected {ctx.truth['docs']}"
    planted = _planted_pairs(ctx)
    together = sum(label[a] == label[b] for a, b in planted) / len(planted)
    if together < COMPONENT_PAIR_RECALL_FLOOR:
        return f"planted pairs in one component {together:.3f} < {COMPONENT_PAIR_RECALL_FLOOR}"
    return None


def _ivf(ctx: Context):
    from employee_analytics_etl_spark.operators import similarity

    with ctx.tracer.span("sources.read_parquet"):
        q = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "queries.parquet"))
        c = ctx.spark.read.parquet(os.path.join(ctx.data_dir, "embeddings.parquet"))
    with ctx.tracer.span("operators.similarity.ivf"):
        return similarity.ivf_topk(q, c, k=ctx.truth["embeddings"]["k"]).collect()


def _check_ivf(ctx: Context, rows) -> str | None:
    et = ctx.truth["embeddings"]
    found: dict[int, set] = {}
    for r in rows:
        found.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    planted = sum(int(n) in found.get(int(q), ()) for q, n in et["planted"].items())
    planted /= len(et["planted"])
    exact = sum(len(found.get(int(q), set()) & set(ns)) for q, ns in et["exact_topk"].items())
    ctx.curation["ivf_recall"] = exact / (et["k"] * et["queries"])
    if planted < IVF_PLANTED_RECALL_FLOOR:
        return f"IVF planted-neighbour recall {planted:.3f} < {IVF_PLANTED_RECALL_FLOOR}"
    return None


def corpus_script(truth: dict) -> list[Request]:
    n, v = truth["docs"], truth["vectors"]
    return [
        Request("text:lang_quality", _lang_quality, _check_lang, n),
        Request("dedup:exact", _exact, _check_exact, n),
        Request("dedup:minhash", _minhash, _check_minhash, n),
        Request("dedup:components", _components, _check_components, n),
        Request("similarity:ivf", _ivf, _check_ivf, v + truth["embeddings"]["queries"]),
    ]


SCRIPTS = {"hr_etl": hr_etl_script, "star_analytics": star_script,
           "corpus_curation": corpus_script}

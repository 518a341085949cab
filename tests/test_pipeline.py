"""End-to-end pipeline test: CSV fixtures on disk → run_pipeline →
outputs + validation + report (SURVEY.md §3 lifecycle)."""

import os

import pytest

from employee_analytics_etl_spark.config import PipelineConfig
from employee_analytics_etl_spark.plans.pipeline import run_pipeline
from employee_analytics_etl_spark.sources.readers import MissingInputError, check_manifest
from employee_analytics_etl_spark.sources.schemas import HR_TABLE_ORDER


@pytest.fixture(scope="module")
def raw_dir(spark, hr, tmp_path_factory):
    base = tmp_path_factory.mktemp("raw")
    for name, df in hr.items():
        # write single CSV file named <table>.csv (pipeline contract)
        pdf = df.toPandas()
        # pandas serializes nullable int columns as floats ("101.0") —
        # the exact S4 round-trip bug the reference exhibits (SURVEY
        # §2.1); use nullable Int64 so ints stay ints like the real
        # reference CSVs
        for field in df.schema.fields:
            if field.dataType.simpleString() in ("bigint", "int") and (
                pdf[field.name].dtype.kind == "f"
            ):
                pdf[field.name] = pdf[field.name].astype("Int64")
        pdf.to_csv(os.path.join(base, f"{name}.csv"), index=False)
    return str(base)


@pytest.fixture(scope="module")
def result(spark, raw_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("out")
    conf = PipelineConfig(
        raw_dir=raw_dir,
        processed_dir=str(out / "processed"),
        report_path=str(out / "reports" / "etl_summary_report.txt"),
    )
    return run_pipeline(spark, conf), conf


class TestPipeline:
    def test_manifest_check(self, tmp_path):
        with pytest.raises(MissingInputError):
            check_manifest(str(tmp_path), [f"{t}.csv" for t in HR_TABLE_ORDER])

    def test_outputs_present(self, result):
        res, _ = result
        assert set(res["outputs"]) == {
            "dim_departments", "dim_employees", "fact_performance_reviews",
            "fact_project_assignments", "summary_dept_metrics",
            "summary_emp_performance", "summary_project_workload",
        }

    def test_volume_stats(self, result):
        res, _ = result
        vs = res["volume_stats"]
        assert vs["employees"]["extracted"] == 10
        assert vs["employees"]["cleaned"] == 8  # Bob inactive, Grace zero-salary

    def test_dq_ran(self, result):
        res, _ = result
        assert res["dq"]["total_checks"] > 10
        assert res["dq"]["failed"] >= 1  # fixture has known violations

    def test_report_written(self, result):
        res, conf = result
        assert os.path.exists(conf.report_path)
        text = open(conf.report_path).read()
        assert "BUSINESS INSIGHTS" in text
        assert "Highest avg salary" in text
        assert res["report"] == text

    def test_csv_sink(self, result):
        res, conf = result
        d = os.path.join(conf.processed_dir, "summary_dept_metrics")
        assert os.path.isdir(d)
        files = [f for f in os.listdir(d) if f.endswith(".csv")]
        assert len(files) == 1  # the pipeline writes single-file CSVs

    def test_workload_kept(self, result):
        # intentional divergence: the reference computes-then-drops the
        # workload summary (reference scripts/main.py:107-115); we keep it
        res, _ = result
        assert res["outputs"]["summary_project_workload"].count() > 0

    def test_sql_surface(self, spark, result):
        # every output is a temp view; insight A is a SQL one-liner
        res, _ = result
        assert set(res["outputs"]) <= {
            t.name for t in spark.catalog.listTables()
        }
        top = spark.sql(
            """SELECT name, avg_salary FROM summary_dept_metrics
               ORDER BY avg_salary DESC, department_id LIMIT 1"""
        ).collect()
        assert len(top) == 1 and top[0]["avg_salary"] > 0


class TestJsonSource:
    def test_json_roundtrip_equals_parquet(self, spark, tmp_path_factory):
        import os

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from employee_analytics_etl_spark.sources.readers import (
            read_json_table,
            read_parquet_table,
        )
        from tests.conftest import SF_SMOKE

        pq = read_parquet_table(spark, SF_SMOKE, "events")
        base = str(tmp_path_factory.mktemp("json")) + "/events.json"
        pq.withColumn(
            "ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        ).write.mode("overwrite").json(base)

        schema = T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.StringType()),
                T.StructField("user_id", T.LongType()),
                T.StructField("event_type", T.StringType()),
                T.StructField("value", T.DoubleType()),
                T.StructField("props", T.StringType()),
            ]
        )
        js = read_json_table(spark, base, schema, timestamp_cols=["ts"])
        cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
        a = sorted(map(tuple, pq.select(cols).collect()))
        b = sorted(map(tuple, js.select(cols).collect()))
        assert a == b


class TestOrcRoundtrip:
    def test_orc_roundtrip_and_pushdown(self, spark, tmp_path):
        from employee_analytics_etl_spark.sources.readers import (
            read_orc_table,
            read_parquet_table,
        )
        from employee_analytics_etl_spark.sources.sinks import write_orc
        from tests.conftest import SF_SMOKE

        src = read_parquet_table(spark, SF_SMOKE, "orders")
        path = str(tmp_path / "orders_orc")
        write_orc(src, path, partition_by=["o_orderstatus"])

        back = read_orc_table(spark, path)
        assert back.count() == src.count()
        a = sorted(map(tuple, src.select("o_orderkey", "o_totalprice").collect()))
        b = sorted(map(tuple, back.select("o_orderkey", "o_totalprice").collect()))
        assert a == b

        # filters reach the ORC scan: both a partition filter and a
        # pushed data filter appear in the physical plan
        q = back.filter(
            (back.o_orderstatus == "F") & (back.o_orderkey > 100)
        ).select("o_orderkey")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan and "o_orderkey" in plan
        assert q.count() > 0


class TestSchemaEvolution:
    def test_parquet_merge_schema_appends_column(self, spark, tmp_path):
        """Appended datasets gain columns over time; the reader must
        unify v1 (no column) and v2 (new column) under mergeSchema with
        null fill for the old files — the evolution path any long-lived
        100 TB dataset goes through."""
        path = str(tmp_path / "evolving")
        v1 = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, name string"
        )
        v1.write.mode("overwrite").parquet(path + "/batch=1")
        v2 = spark.createDataFrame(
            [(3, "c", 9.5), (4, "d", 7.0)],
            "id long, name string, score double",
        )
        v2.write.mode("overwrite").parquet(path + "/batch=2")

        merged = spark.read.option("mergeSchema", "true").parquet(path)
        assert set(merged.columns) == {"id", "name", "score", "batch"}
        rows = {r["id"]: r for r in merged.collect()}
        assert len(rows) == 4
        assert rows[1]["score"] is None and rows[3]["score"] == 9.5
        # pruning still reaches the scan on the unified schema
        q = merged.filter(merged.id > 2).select("id", "score")
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters" in plan

    def test_mismatched_type_evolution_fails_loud(self, spark, tmp_path):
        """A column whose TYPE changes between batches must fail the
        merged read, not silently coerce — silent int->string
        unification is how corrupt lakes happen."""
        import pytest as _pytest

        path = str(tmp_path / "conflict")
        spark.createDataFrame([(1, 10)], "id long, v long").write.parquet(
            path + "/batch=1"
        )
        spark.createDataFrame([(2, "x")], "id long, v string").write.parquet(
            path + "/batch=2"
        )
        with _pytest.raises(Exception) as ei:
            spark.read.option("mergeSchema", "true").parquet(path).collect()
        assert "merge" in str(ei.value).lower() or "incompatible" in str(
            ei.value
        ).lower() or "Failed" in str(ei.value)


class TestParquetSchemaCache:
    """read_parquet_table infers a path's schema once per session and
    reads later calls with that StructType, which submits no Spark job;
    a changed file listing or type-mapping conf re-infers."""

    @staticmethod
    def _jobs(spark, fn):
        import uuid

        sc = spark.sparkContext
        group = f"schema-cache-test-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def test_warm_read_submits_no_job(self, spark):
        from employee_analytics_etl_spark.sources.readers import read_parquet_table
        from tests.conftest import SF_SMOKE

        first = read_parquet_table(spark, SF_SMOKE, "orders")
        again, jobs = self._jobs(spark, lambda: read_parquet_table(spark, SF_SMOKE, "orders"))
        assert jobs == 0
        assert again.schema == first.schema

    def test_rewritten_path_reinfers(self, spark, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from employee_analytics_etl_spark.sources.readers import read_parquet_table

        base = str(tmp_path)
        # a Spark-written directory: overwrite with an added and a retyped column
        path = os.path.join(base, "evolving.parquet")
        spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(path)
        v1 = read_parquet_table(spark, base, "evolving")
        assert v1.columns == ["id", "name"] and v1.collect()[0]["id"] == 1
        spark.createDataFrame([("x", "b", 2.5)], "id string, name string, score double") \
            .write.mode("overwrite").parquet(path)
        v2 = read_parquet_table(spark, base, "evolving")
        assert v2.schema.simpleString() == "struct<id:string,name:string,score:double>"
        assert [tuple(r) for r in v2.collect()] == [("x", "b", 2.5)]

        # a single file rewritten under the same name
        single = os.path.join(base, "single.parquet")
        pq.write_table(pa.table({"k": pa.array([1], pa.int64())}), single)
        assert read_parquet_table(spark, base, "single").columns == ["k"]
        pq.write_table(pa.table({"k": pa.array(["7"]), "v": pa.array([3.0])}), single)
        w2 = read_parquet_table(spark, base, "single")
        assert w2.schema.simpleString() == "struct<k:string,v:double>"
        assert [tuple(r) for r in w2.collect()] == [("7", 3.0)]

    def test_cached_events_ts_is_timestamp_ntz(self, spark):
        from pyspark.sql import types as T

        from employee_analytics_etl_spark.sources import readers
        from tests.conftest import SF_SMOKE

        readers._SCHEMA_CACHE.pop(spark, None)
        inferred = readers.read_parquet_table(spark, SF_SMOKE, "events")
        cached, jobs = self._jobs(spark, lambda: readers.read_parquet_table(spark, SF_SMOKE, "events"))
        assert jobs == 0
        for df in (inferred, cached):
            assert isinstance(df.schema["ts"].dataType, T.TimestampNTZType)
        key = ["event_id", "ts"]
        assert sorted(map(tuple, cached.select(key).collect())) == sorted(
            map(tuple, inferred.select(key).collect())
        )

    def test_cache_holds_schemas_only(self, spark):
        from pyspark.sql import types as T

        from employee_analytics_etl_spark.sources import readers
        from tests.conftest import SF_SMOKE

        for table in ("orders", "events"):
            readers.read_parquet_table(spark, SF_SMOKE, table)
        entries = readers._SCHEMA_CACHE[spark]
        assert entries
        for fingerprint, confs, schema in entries.values():
            assert isinstance(schema, T.StructType)
            assert all(isinstance(n, str) and isinstance(size, int) and isinstance(mtime, int)
                       for n, size, mtime in fingerprint)
            assert all(isinstance(v, str) for v in confs)
        # a new session never inherits another session's entries
        assert spark.newSession() not in readers._SCHEMA_CACHE


class TestFixedWidthSource:
    def test_fixed_width_parse_trim_ragged_and_permissive(
        self, spark, tmp_path
    ):
        """Fixed-width carve-out: typed columns from positions, padding
        trimmed, short (ragged) lines yield NULLs, and garbage in a
        numeric field goes NULL (PERMISSIVE) instead of failing the
        scan."""
        from employee_analytics_etl_spark.sources.readers import (
            read_fixed_width,
        )

        #        1-6     7-16        17-26       27-36
        lines = [
            "000001Alice     2024-01-15    123.45",
            "000002Bob       2024-02-20      7.00",
            "000003Carol     2024-03-05",        # ragged: no amount
            "00000XDave      not-a-date    abc   ",  # garbage id/date/amt
        ]
        p = tmp_path / "fw.txt"
        p.write_text("\n".join(lines) + "\n")

        fields = [
            ("id", 1, 6, "BIGINT"),
            ("name", 7, 10, "STRING"),
            ("day", 17, 10, "DATE"),
            ("amount", 27, 10, "DOUBLE"),
        ]
        rows = {
            r["name"]: r
            for r in read_fixed_width(spark, str(p), fields).collect()
        }
        assert rows["Alice"]["id"] == 1
        assert str(rows["Alice"]["day"]) == "2024-01-15"
        assert rows["Alice"]["amount"] == 123.45
        assert rows["Bob"]["amount"] == 7.00
        # ragged tail → NULL column, row still present
        assert rows["Carol"]["amount"] is None
        assert str(rows["Carol"]["day"]) == "2024-03-05"
        # unparseable values → NULL, not a job failure
        assert rows["Dave"]["id"] is None
        assert rows["Dave"]["day"] is None
        assert rows["Dave"]["amount"] is None

    def test_fixed_width_is_pure_projection(self, spark, tmp_path):
        """The parse plan must stay scan+project (codegen) — no
        exchange, no Python evaluation."""
        from employee_analytics_etl_spark.sources.readers import (
            read_fixed_width,
        )

        p = tmp_path / "fw2.txt"
        p.write_text("000001Alice     2024-01-15    123.45\n")
        df = read_fixed_width(
            spark, str(p), [("id", 1, 6, "BIGINT"), ("name", 7, 10, "STRING")]
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPythonDataSource:
    """Spark 4 Python DataSource API: the custom 'seqgen' source must
    plan partitioned reads (driver plans ranges, workers generate)
    and produce the exact deterministic row set."""

    def test_seqgen_reads_partitioned_and_exact(self, spark):
        from employee_analytics_etl_spark.sources.pysource import register

        register(spark)
        df = (
            spark.read.format("seqgen")
            .option("n_rows", 257)
            .option("num_partitions", 5)
            .option("n_buckets", 7)
            .load()
        )
        assert df.rdd.getNumPartitions() == 5
        rows = df.collect()
        assert len(rows) == 257
        got = {(r["id"], r["bucket"], r["value"]) for r in rows}
        want = {
            (i, f"b{i % 7}", float(i % 97) / 10.0) for i in range(257)
        }
        assert got == want

    def test_observation_metrics_piggyback_on_one_scan(self, spark):
        """df.observe: operational row/sum metrics collected from the
        SAME job that produced the result — no second scan."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from employee_analytics_etl_spark.sources.pysource import register

        register(spark)
        df = (
            spark.read.format("seqgen")
            .option("n_rows", 100)
            .option("num_partitions", 3)
            .load()
        )
        obs = Observation("pipeline_metrics")
        out = (
            df.observe(
                obs,
                F.count(F.lit(1)).alias("rows_seen"),
                F.sum("id").alias("id_sum"),
            )
            .filter(F.col("id") % 2 == 0)
            .count()
        )
        assert out == 50
        m = obs.get
        assert m["rows_seen"] == 100 and m["id_sum"] == 4950


class TestDeadLetterJson:
    """PERMISSIVE JSON ingest with a dead-letter column: malformed
    rows must land in _corrupt_record (quarantine), never fail the
    job, and valid rows must parse fully."""

    def test_corrupt_rows_quarantined(self, spark, tmp_path_factory):
        import os

        d = str(tmp_path_factory.mktemp("dlq_json"))
        with open(os.path.join(d, "feed.json"), "w") as f:
            f.write('{"id": 1, "v": 10.5}\n')
            f.write('{"id": 2, "v": "NOT A NUMBER"}\n')
            f.write("{this is not json at all\n")
            f.write('{"id": 4, "v": 2.5}\n')

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.DoubleType()),
                T.StructField("_corrupt_record", T.StringType()),
            ]
        )
        df = (
            spark.read.schema(schema)
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
            .json(d)
        ).cache()  # Spark requires caching to query corrupt-record col
        good = df.filter(F.col("_corrupt_record").isNull())
        dead = df.filter(F.col("_corrupt_record").isNotNull())
        assert {(r["id"], r["v"]) for r in good.collect()} == {
            (1, 10.5),
            (4, 2.5),
        }
        assert dead.count() == 2  # type mismatch + unparseable line
        # quarantined payloads keep the raw line for replay
        raws = [r["_corrupt_record"] for r in dead.collect()]
        assert any("NOT A NUMBER" in r for r in raws)
        assert any("this is not json" in r for r in raws)
        df.unpersist()

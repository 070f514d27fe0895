"""Clone and validate at sf0.001, in the default run: copied row counts,
planted constraint violations, the zero-row table, the Spark job budget
of both, and job-group attribution of the pool threads' jobs.

The budget is pinned as noise-free counts, read with the marks the
benchmark's tracer diffs (next job id, SQL executions). Counts may go
down; raising one needs its reason written next to it."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from database_clonev2_spark.io import FIXTURE_TABLES, load, table_path
from database_clonev2_spark.pipeline.clone import (
    clone_database,
    clone_table,
    fixture_specs,
    validate_database,
)
from database_clonev2_spark.sources import read_csv, read_json

# validate_database's keys on the full fixture schema, in order: per table
# in FIXTURE_TABLES order, its pk, then its fks, then its checks
VALIDATION_KEYS = [
    "pk:region",
    "pk:nation",
    "fk:FK_nation_region",
    "pk:customer",
    "fk:FK_customer_nation",
    "pk:supplier",
    "fk:FK_supplier_nation",
    "pk:part",
    "pk:orders",
    "fk:FK_orders_customer",
    "ck:CK_orders_price",
    "fk:FK_lineitem_orders",
    "fk:FK_lineitem_part",
    "fk:FK_lineitem_supplier",
    "ck:CK_lineitem_qty",
    "pk:events",
    "pk:documents",
    "pk:embeddings",
]

# the job budget (see the module docstring)
MAX_CLONE_JOBS_PER_TABLE = 2  # schema resolution + the observed write
VALIDATE_SQL_EXECUTIONS = 1  # every check counted in one aggregate


def _marks(spark) -> tuple[int, int]:
    """(next job id, SQL executions so far), once the listener bus drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return (
        int(sc.dagScheduler().nextJobId()),
        int(spark._jsparkSession.sharedState().statusStore().executionsCount()),
    )


def _set_cell(path: str, column: str, value) -> None:
    """Rewrite row 0 of one column of a single-file parquet table."""
    t = pq.read_table(path)
    i = t.schema.get_field_index(column)
    vals = t.column(column).to_pylist()
    vals[0] = value
    pq.write_table(t.set_column(i, t.schema.field(i), pa.array(vals, t.schema.field(i).type)), path)


@pytest.fixture
def planted(sf_dir, tmp_path) -> str:
    """A copy of the fixtures with one orphan ``o_custkey`` and one
    negative ``l_quantity``."""
    src = str(tmp_path / "planted")
    os.makedirs(src)
    for t in FIXTURE_TABLES:
        shutil.copyfile(table_path(sf_dir, t), table_path(src, t))
    orphan = max(pq.read_table(table_path(src, "customer")).column("c_custkey").to_pylist()) + 1
    _set_cell(table_path(src, "orders"), "o_custkey", orphan)
    _set_cell(table_path(src, "lineitem"), "l_quantity", -1.0)
    return src


class TestClone:
    def test_copied_rows_equal_source_rows(self, spark, sf_dir, tmp_path):
        res = clone_database(spark, sf_dir, str(tmp_path / "t"))
        assert not res.errors and not res.empty and not res.skipped
        assert res.copied == {t: load(spark, sf_dir, t).count() for t in FIXTURE_TABLES}

    def test_zero_row_source_is_empty_and_keeps_its_schema(self, spark, sf_dir, tmp_path):
        src, target = str(tmp_path / "src"), str(tmp_path / "t")
        schema = load(spark, sf_dir, "region").schema
        spark.createDataFrame([], schema).write.parquet(table_path(src, "region"))
        res = clone_database(spark, src, target)
        assert (res.copied, res.empty, res.errors) == ({}, ["region"], {})
        back = load(spark, target, "region")
        assert back.schema == schema and back.count() == 0
        # the empty target is a table like any other: validation sees it
        assert validate_database(spark, target) == {"pk:region": 0}

    @pytest.mark.parametrize("fmt", ["orc", "csv", "json"])
    def test_zero_row_source_through_formats(self, spark, sf_dir, tmp_path, fmt):
        src, target = str(tmp_path / "src"), str(tmp_path / "t")
        schema = load(spark, sf_dir, "region").schema
        spark.createDataFrame([], schema).write.parquet(table_path(src, "region"))
        assert clone_table(spark, src, target, "region", fmt=fmt) == ("empty", 0)
        path = f"{target}/region.{fmt}"
        if fmt == "orc":
            back = spark.read.orc(path)
        else:
            back = (read_csv if fmt == "csv" else read_json)(spark, path, schema)
        assert back.schema == schema and back.count() == 0


class TestValidate:
    def test_clean_fixtures_have_no_violations(self, spark, sf_dir):
        got = validate_database(spark, sf_dir)
        assert list(got) == VALIDATION_KEYS
        assert set(got.values()) == {0}

    def test_planted_violations_are_counted(self, spark, planted):
        got = validate_database(spark, planted)
        assert list(got) == VALIDATION_KEYS
        assert {k: v for k, v in got.items() if v} == {
            "fk:FK_orders_customer": 1,
            "ck:CK_lineitem_qty": 1,
        }


class TestJobBudget:
    def test_clone_runs_at_most_two_jobs_per_table(self, spark, sf_dir, tmp_path):
        first, _ = _marks(spark)
        res = clone_database(spark, sf_dir, str(tmp_path / "t"))
        last, _ = _marks(spark)
        assert len(res.copied) == len(FIXTURE_TABLES)
        assert last - first <= MAX_CLONE_JOBS_PER_TABLE * len(res.copied)

    def test_validate_runs_one_sql_execution(self, spark, sf_dir):
        _, first = _marks(spark)
        validate_database(spark, sf_dir)
        _, last = _marks(spark)
        assert last - first == VALIDATE_SQL_EXECUTIONS


class TestJobGroup:
    def test_pool_threads_run_in_the_callers_job_group(self, spark, sf_dir, tmp_path):
        sc = spark.sparkContext
        group = "test-clone-job-group"
        sc.setJobGroup(group, "clone from the pool threads")
        try:
            first, _ = _marks(spark)
            clone_database(spark, sf_dir, str(tmp_path / "t"))
            fixture_specs(spark, sf_dir)
            last, _ = _marks(spark)
        finally:
            sc._jsc.clearJobGroup()
        assert last > first
        assert set(range(first, last)) <= set(sc.statusTracker().getJobIdsForGroup(group))

"""Round-13 OPTIMIZATION-phase tests — the helpers the round introduced
(`io.load_spread` / `io.spread_frame`), the driver-side
FK-closure walk, and the one-exchange co-purchase pair build. Each test
pins the property the optimization claims (value identity + the structural
guarantee), not timings — timings live in BENCH_r13.json."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from database_clonev2_spark.io import (
    load,
    load_spread,
    spread_frame,
    _parse_bytes,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestParseBytes:
    def test_grammar(self):
        assert _parse_bytes("134217728") == 128 * 1024 * 1024
        assert _parse_bytes("128m") == 128 * 1024 * 1024
        assert _parse_bytes("128MB") == 128 * 1024 * 1024
        assert _parse_bytes("1g") == 1 << 30
        assert _parse_bytes("512k") == 512 * 1024


class TestLoadSpread:
    def test_values_identical_and_spread_fires_on_small_file(self, spark, sf_dir):
        plain = load(spark, sf_dir, "documents")
        spread = load_spread(spark, sf_dir, "documents", "doc_id")
        assert _rows(plain.select("doc_id")) == _rows(spread.select("doc_id"))
        # the fixture file is far under maxPartitionBytes, so with
        # defaultParallelism > 2 the guard must fire and widen the scan
        if spark.sparkContext.defaultParallelism > 2:
            assert (
                spread.rdd.getNumPartitions()
                == spark.sparkContext.defaultParallelism
            )

    def test_noop_when_file_already_yields_enough_splits(self, spark, sf_dir):
        # shrink maxPartitionBytes so the file's estimated split count
        # reaches the parallelism bar: load_spread must return the plain
        # scan (no Exchange in the plan)
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try:
            spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
            df = load_spread(spark, sf_dir, "documents", "doc_id")
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)


class TestSpreadFrame:
    # round 14 (VERDICT r13 #4): spread_frame now ENFORCES its
    # materialized-input contract, so the fixtures below feed it what
    # the documented call sites do — localCheckpoint leaves
    def test_starved_frame_widens_values_identical(self, spark):
        df = (
            spark.range(1000)
            .coalesce(1)
            .select(F.col("id"), (F.col("id") % 7).alias("k"))
            .localCheckpoint()
        )
        out = spread_frame(df, "k")
        if spark.sparkContext.defaultParallelism > 2:
            assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
        assert _rows(df) == _rows(out)

    def test_wide_frame_untouched(self, spark):
        df = spark.range(1000).repartition(64).localCheckpoint()
        assert spread_frame(df, "id") is df

    def test_lazy_frame_rejected(self, spark):
        # a lazy plan would pay a planning round-trip per call — the
        # round-14 guard makes that loud instead of silent
        import pytest as _pytest

        lazy = spark.range(1000).select((F.col("id") % 7).alias("k"))
        with _pytest.raises(ValueError, match="materialized"):
            spread_frame(lazy, "k")

    def test_persisted_frame_accepted(self, spark):
        df = spark.range(1000).select((F.col("id") % 7).alias("k")).persist()
        try:
            df.count()
            out = spread_frame(df, "k")
            assert _rows(df) == _rows(out)
        finally:
            df.unpersist()


class TestSpreadFrameCallSite:
    def test_training_pipeline_spreads_a_materialized_frame(self, spark, sf_dir, tmp_path, monkeypatch):
        """``training_pipeline_e2e`` is the one production caller of
        ``spread_frame``, so the only path to its ValueError: on a tiny
        corpus (40 fixture documents plus an exact and a near duplicate)
        the call must be reached, accept its input and give DuckDB's
        answer."""
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq

        import database_clonev2_spark.io as io_mod
        from database_clonev2_spark.extensions import ORACLES, text

        docs = pq.read_table(f"{sf_dir}/documents.parquet").slice(0, 40).to_pylist()
        words = docs[1]["text"].split(" ")
        dups = [
            {**docs[1], "doc_id": 1000},
            {**docs[1], "doc_id": 1001, "text": " ".join(words[:-1] + ["zzz"])},
        ]
        path = str(tmp_path / "documents.parquet")
        pq.write_table(pa.Table.from_pylist(docs + dups, pq.read_schema(f"{sf_dir}/documents.parquet")), path)

        calls = []

        def spy(df, *keys):
            calls.append(keys)
            return spread_frame(df, *keys)

        monkeypatch.setattr(io_mod, "spread_frame", spy)
        got = _rows(text.training_pipeline_e2e(spark, str(tmp_path)))
        assert calls == [("doc_id",)]
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            want = sorted(con.execute(ORACLES["training_pipeline_e2e"]).fetchall())
        finally:
            con.close()
        assert got == want


class TestFkClosureWalk:
    def test_driver_walk_equals_native_recursive_sql(self, spark, sf_dir):
        import __spark_entry__ as entry

        qs, _ = entry._registry()
        walked = qs["rcte_fk_closure"](spark, sf_dir)
        from database_clonev2_spark.io import table_path
        from database_clonev2_spark.pipeline.clone import FIXTURE_FKS
        import os

        edges = [
            (child, parent)
            for child, fk_list in FIXTURE_FKS.items()
            if os.path.exists(table_path(sf_dir, child))
            for _n, _cc, parent, _pc in fk_list
        ]
        spark.createDataFrame(
            edges, ["child_tbl", "parent_tbl"]
        ).createOrReplaceTempView("fk_edges_t13")
        native = spark.sql(
            """WITH RECURSIVE walk(tbl, anc, depth) AS (
                   SELECT child_tbl, parent_tbl, 1 FROM fk_edges_t13
                   UNION ALL
                   SELECT w.tbl, e.parent_tbl, w.depth + 1
                   FROM walk w JOIN fk_edges_t13 e ON e.child_tbl = w.anc)
               SELECT tbl AS child_table, anc AS ancestor_table,
                      CAST(COUNT(*) AS BIGINT) AS n_paths,
                      CAST(MIN(depth) AS INT) AS min_depth,
                      CAST(MAX(depth) AS INT) AS max_depth
               FROM walk GROUP BY tbl, anc"""
        )
        assert _rows(walked) == _rows(native)

    def test_cyclic_catalog_raises_loudly(self, spark, sf_dir, monkeypatch):
        from database_clonev2_spark.pipeline import clone as clone_mod

        cyclic = dict(clone_mod.FIXTURE_FKS)
        cyclic["region"] = [("FK_cycle", ["r_regionkey"], "nation", ["n_nationkey"])]
        monkeypatch.setattr(clone_mod, "FIXTURE_FKS", cyclic)
        import __spark_entry__ as entry

        qs, _ = entry._registry()
        with pytest.raises(RuntimeError, match="100 levels"):
            qs["rcte_fk_closure"](spark, sf_dir)


class TestSimhashArrowVotes:
    """The scan-side array fingerprint (one Arrow vote kernel, zero
    exchanges — the kept-but-unadopted at-scale alternative, STATUS note
    on ``_vote_fingerprint_arrays``) must be BIT-EQUAL to the production
    form (explode + 65-buffer groupBy, ``simhash_fingerprints``) for both
    hash families — the property that makes adopting it in optimization
    round 2 a plan change, not a semantics change."""

    def test_xxhash_family_bit_equal(self, spark, sf_dir):
        from database_clonev2_spark.extensions.dedup import (
            SIMHASH_BITS,
            _doc_shingle_hash_arrays,
            _vote_fingerprint_arrays,
            simhash_fingerprints,
        )

        d = load(spark, sf_dir, "documents")
        alt = _vote_fingerprint_arrays(
            _doc_shingle_hash_arrays(d, lambda s: F.xxhash64(s)), SIMHASH_BITS
        )
        assert _rows(alt) == _rows(simhash_fingerprints(d))

    def test_md5_family_bit_equal(self, spark, sf_dir):
        from database_clonev2_spark.extensions.dedup import (
            SIMHASH_BITS_MD5,
            _doc_shingle_hash_arrays,
            _vote_fingerprint_arrays,
            simhash_fingerprints_md5,
        )

        d = load(spark, sf_dir, "documents")
        alt = _vote_fingerprint_arrays(
            _doc_shingle_hash_arrays(
                d,
                lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast(
                    "bigint"
                ),
            ),
            SIMHASH_BITS_MD5,
        )
        assert _rows(alt) == _rows(simhash_fingerprints_md5(d))

    def test_short_and_empty_docs_excluded_identically(self, spark):
        from database_clonev2_spark.extensions.dedup import (
            SIMHASH_BITS,
            _doc_shingle_hash_arrays,
            _vote_fingerprint_arrays,
        )

        d = spark.createDataFrame(
            [(1, "only two"), (2, ""), (3, "a b c d"), (4, "x y z")],
            ["doc_id", "text"],
        )
        out = _rows(
            _vote_fingerprint_arrays(
                _doc_shingle_hash_arrays(d, lambda s: F.xxhash64(s)), SIMHASH_BITS
            ).select("doc_id")
        )
        # docs 1 and 2 have < 3 tokens -> no shingles -> no fingerprint,
        # exactly like the exploded groupBy form
        assert out == [(3,), (4,)]


class TestEdgesBuild:
    def test_collect_set_pairs_equal_self_join_form(self, spark, sf_dir):
        from database_clonev2_spark.operators.graph import (
            MIN_SUPPORT,
            _edges_view,
        )

        _edges_view(spark, sf_dir)
        new = spark.table("edges")
        li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        op = li.distinct()
        a, b = op.alias("a"), op.alias("b")
        legacy = (
            a.join(
                b,
                (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_partkey") < F.col("b.l_partkey")),
            )
            .groupBy(F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb"))
            .agg(F.count(F.lit(1)).alias("support"))
            .where(F.col("support") >= MIN_SUPPORT)
            .select("pa", "pb")
        )
        assert _rows(new) == _rows(legacy)

"""VERDICT r13 item 5 — tri three-way self-join: at fixture scale the
arms all BROADCAST (plans/r13 tri after-plan: zero Sort nodes), so the
"per-arm sorts" premise only bites once edges outgrow broadcast. Emulate
that regime with autoBroadcastJoinThreshold=-1 and time the current
lazy localCheckpoint edges pin. Also capture plan node counts for the
record. (The round-14 A/B arm against a hash-partitioned, sorted cache
of the edges was removed with the declined helper; its result is
recorded in README.md.)
"""
import os, sys, time
sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pyspark.sql import functions as F
from database_clonev2_spark.session import get_spark
from database_clonev2_spark.io import load
import database_clonev2_spark.operators.graph as g

SF = "/root/testdata/sf0.1"
spark = get_spark("ab-tri")
spark.read.parquet(f"{SF}/region.parquet").count()

TRI_SQL = """WITH deg AS (
     SELECT node, COUNT(*) AS degree
     FROM (SELECT pa AS node FROM edges
           UNION ALL SELECT pb AS node FROM edges)
     GROUP BY node),
   tri AS (
     SELECT COUNT(*) AS n_triangles
     FROM edges e1
     JOIN edges e2 ON e2.pa = e1.pb
     JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
   wedge AS (
     SELECT SUM(degree * (degree - 1) / 2) AS n_wedges,
            COUNT(*) AS n_nodes
     FROM deg)
   SELECT CAST(wedge.n_nodes AS BIGINT) AS n_nodes,
          (SELECT COUNT(*) FROM edges) AS n_edges,
          CAST(tri.n_triangles AS BIGINT) AS n_triangles,
          CAST(wedge.n_wedges AS BIGINT) AS n_wedges,
          CAST(3 * tri.n_triangles AS DOUBLE)
            / CAST(wedge.n_wedges AS DOUBLE) AS global_clustering
   FROM tri, wedge"""


def build_edges():
    li = load(spark, SF, "lineitem")
    per_order = (
        li.where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps)), "
                "y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("e")
    )
    return (
        pairs.select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("support"))
        .where(F.col("support") >= g.MIN_SUPPORT)
        .select("pa", "pb")
    )


def run():
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        build_edges().localCheckpoint(eager=False).createOrReplaceTempView("edges")
        out = spark.sql(TRI_SQL)
        t0 = time.time()
        out.write.format("noop").mode("overwrite").save()
        return time.time() - t0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


run()  # warm
t = sorted(run() for _ in range(4))
print("tri_noauto", {"ckpt": round(t[0], 3)}, {"ckpt": [round(x, 2) for x in t]}, flush=True)

# plan-shape record: Sort/Exchange node counts in the forced-shuffle plan
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
build_edges().localCheckpoint(eager=False).createOrReplaceTempView("edges")
df = spark.sql(TRI_SQL)
plan = df._sc._jvm.PythonSQLUtils.explainString(
    df._jdf.queryExecution(), "formatted"
)
import re
counts = {
    w: len(re.findall(r"\(\d+\) " + w + r"\b", plan))
    for w in ("Exchange", "Sort", "SortMergeJoin", "BroadcastHashJoin")
}
print("ckpt", counts, flush=True)
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

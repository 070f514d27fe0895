"""At-scale (100k-doc synthetic corpus) A/B harness — round 14, VERDICT
item 1: re-decide the r13 reverted candidates where the corpus actually
shuffles.

Subcommands:
  probe                 one timed run of each subject for magnitude sizing
  simhash [reps]        explode+groupBy vs arrays+Arrow vote kernel

(The round-14 pinlayout subcommand — localCheckpoint vs a
hash-partitioned, sorted cache on the sketch self-joins — was removed
with the declined helper; its result is recorded in README.md.)
"""
import os, sys, time
sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel
from database_clonev2_spark.session import get_spark
from database_clonev2_spark.io import load, load_spread
from database_clonev2_spark.extensions import dedup as dd

SF = "/root/synthdata/docs100k"
spark = get_spark("ab-scale")
spark.read.parquet(f"{SF}/documents.parquet").count()  # warm


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    fn()
    dt = time.time() - t0
    spark.sparkContext.setJobDescription(None)
    return dt


# --- simhash fingerprint variants -------------------------------------

def fp_groupby():
    return dd.simhash_fingerprints(load_spread(spark, SF, "documents", "doc_id"))


def fp_arrow():
    hs = dd._doc_shingle_hash_arrays(
        load_spread(spark, SF, "documents", "doc_id"), lambda s: F.xxhash64(s)
    )
    return dd._vote_fingerprint_arrays(hs, dd.SIMHASH_BITS)


def simhash_query(fp_builder):
    fp = fp_builder().persist(StorageLevel.MEMORY_AND_DISK)
    blocks = dd.simhash_block_keys(fp, 12, 2).persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    out = dd.simhash_blocked_pairs(fp, blocks=blocks).orderBy("doc_i", "doc_j")
    noop(out)
    blocks.unpersist(); fp.unpersist()


# --- sketch self-join subjects ---------------------------------------

def capped_sh_build():
    sh = dd._doc_shingles(load_spread(spark, SF, "documents", "doc_id")).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )
    df_counts = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    return sh.join(df_counts.filter(F.col("df") <= dd.DF_CAP), "sh")


def capped_jaccard(kept):
    counts = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    return dd.jaccard_pairs(kept, kept, counts).filter(
        F.col("jaccard") >= dd.JACCARD_THRESHOLD
    )


def run_capped():
    noop(capped_jaccard(capped_sh_build().localCheckpoint()))


def run_minhash():
    bands = dd.minhash_band_frame(
        load_spread(spark, SF, "documents", "doc_id")
    ).localCheckpoint()
    a, b = bands.alias("a"), bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_i"), F.col("b.doc_id").alias("doc_j"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_bands_matched"))
        .orderBy("doc_i", "doc_j")
    )
    noop(out)


def ab(name, variants, reps):
    t = {k: [] for k in variants}
    for k, fn in variants.items():  # warm, unrecorded
        timed(f"warm:{name}:{k}", fn)
    for _ in range(reps):
        for k, fn in variants.items():
            t[k].append(timed(f"{name}:{k}", fn))
    print(name, {k: round(min(v), 3) for k, v in t.items()},
          {k: [round(x, 2) for x in sorted(v)] for k, v in t.items()}, flush=True)


cmd = sys.argv[1]
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
if cmd == "probe":
    print("fp_groupby_noop", round(timed("probe:fp_groupby", lambda: noop(fp_groupby())), 2), flush=True)
    print("fp_arrow_noop", round(timed("probe:fp_arrow", lambda: noop(fp_arrow())), 2), flush=True)
    print("simhash_q_groupby", round(timed("probe:simq", lambda: simhash_query(fp_groupby)), 2), flush=True)
    print("capped_ckpt", round(timed("probe:capped", run_capped), 2), flush=True)
    print("minhash_ckpt", round(timed("probe:minhash", run_minhash), 2), flush=True)
elif cmd == "simhash":
    ab("fp_build", {"groupby": lambda: noop(fp_groupby()), "arrow": lambda: noop(fp_arrow())}, reps)
    ab("simhash_full", {"groupby": lambda: simhash_query(fp_groupby), "arrow": lambda: simhash_query(fp_arrow)}, reps)
else:
    raise SystemExit(f"unknown cmd {cmd}")

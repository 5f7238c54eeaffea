"""Round-13 at-scale validation (VERDICT r12 #8) → SCALING.md rows.

sf0.1 runs every headline query at a 0.02-1.5 s plan-floor where extra
cores (and better plans) buy nothing, so the round-12/13 changes that
are justified by the at-scale regime need their own evidence. This
tool synthesizes corpora 4-16x past sf0.1 and A/Bs each claim in one
process, min-of-N with /proc/stat steal stamps (the qbench protocol):

1. bucketed-index probe vs index growth (round-13 #1): a FIXED batch
   probes a simhash band index at 1x/4x/16x corpus size, bucketed
   (partition-pruned) vs plain (full scan per batch). Claim: pruned
   probe wall grows with touched buckets only; plain grows with the
   index.
2. (removed with the span hot-key tier it measured; SCALING.md §2
   keeps its results)
3. winnow df cut, anti-join vs count window (round-13 #2): the r12
   window form reimplemented inline as the A side. Same claim class.
4. decontam GEMM (round-12 #12): semantic_decontaminate (expression)
   vs semantic_decontaminate_arrow at 10x-sf0.1 vector counts.
5. containment hash-key join (round-12 #4): shingle_containment
   (xxhash64 keys) vs an inline string-key twin at 4x-sf0.1 docs.

Usage: python tools/r13_scale_validation.py [step ...]   (default all)
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from orestes_spark.operators import dedup, similarity
from orestes_spark.session import get_spark


def steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def timed(label: str, fn, reps: int = 3) -> float:
    best, s0 = None, steal()
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    print(f"  {label:44s} min {best:7.2f}s  (steal {steal() - s0})")
    return best


def synth_docs(spark, n_docs: int, hot_frac: float = 0.0, seed_tokens: int = 60):
    """Deterministic synthetic corpus: ~seed_tokens tokens/doc of
    doc-unique vocabulary, with an optional shared boilerplate prefix
    (the hottest possible k-gram group) on hot_frac of docs."""
    boiler = " ".join(f"boiler{j}" for j in range(12))
    uniq = ", ".join(
        f"concat('t', cast(id as string), 'x{j}')" for j in range(seed_tokens)
    )
    d = spark.range(n_docs).selectExpr(
        "id as doc_id", f"concat_ws(' ', {uniq}) as text"
    )
    if hot_frac:
        mod = int(1 / hot_frac)
        d = d.withColumn(
            "text",
            F.when(
                F.col("doc_id") % mod == 0, F.concat(F.lit(boiler + " "), F.col("text"))
            ).otherwise(F.col("text")),
        )
    return d


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def step_probe(spark) -> None:
    import tempfile

    print("== 1. bucketed simhash index probe vs index growth ==")
    # The realistic per-ingest regime: a MICRO-BATCH (25 media files —
    # re-encodes of indexed content, so the equi-join does real work)
    # probes a corpus-scale index. 25 files x 4 bands = <=100 touched
    # buckets of 1024, so the pruned probe reads <=10% of the index
    # partitions; pruning is a no-op for batches whose key count
    # approaches the bucket count (the bench fixtures' regime — the
    # bucket count is the scale dial, like every nb in this repo).
    batch = spark.range(25).selectExpr(
        "id + 10000000 as _id", "xxhash64(cast(id as string), 7) as simhash"
    ).localCheckpoint()
    for mult, n in ((1, 500_000), (4, 2_000_000), (16, 8_000_000)):
        sig = spark.range(n).selectExpr(
            "id as _id", "xxhash64(cast(id as string), 7) as simhash"
        )
        plain_p = tempfile.mkdtemp(prefix=f"r13_plain_{mult}x_") + "/b"
        buck_p = tempfile.mkdtemp(prefix=f"r13_buck_{mult}x_") + "/b"
        dedup.simhash_band_index(sig).write.parquet(plain_p)
        dedup.simhash_band_index(sig, buckets=1024).repartition(
            F.col("hb")
        ).write.partitionBy("hb").parquet(buck_p)
        plain, buck = spark.read.parquet(plain_p), spark.read.parquet(buck_p)
        timed(
            f"{mult:>2}x index ({n} sigs) plain full-scan probe",
            lambda: noop(dedup.incremental_simhash_pairs(batch, plain)),
        )
        timed(
            f"{mult:>2}x index ({n} sigs) bucketed pruned probe",
            lambda: noop(dedup.incremental_simhash_pairs(batch, buck)),
        )


def step_winnow(spark) -> None:
    print("== 3. winnow df cut: count window (r12) vs anti-join (r13) ==")

    def window_cut(fps):  # the r12 shape, inline for the A side
        return (
            fps.withColumn("_df", F.count(F.lit(1)).over(Window.partitionBy("fp")))
            .where(F.col("_df") <= 50)
            .drop("_df")
        )

    def anti_cut(fps):  # the r13 shape
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") > 50)
            .select("fp")
        )
        return fps.join(hot, "fp", "left_anti")

    for mult in (1, 4, 16):
        d = synth_docs(spark, 2_000 * mult, hot_frac=0.3).localCheckpoint()
        fps = dedup.winnow_doc_prints(d, "doc_id", "text").localCheckpoint()
        timed(f"{mult:>2}x hot corpus, window cut", lambda: noop(window_cut(fps)))
        timed(f"{mult:>2}x hot corpus, anti-join cut", lambda: noop(anti_cut(fps)))


def step_gemm(spark) -> None:
    print("== 4. decontam: expression dot vs Arrow GEMM at 10x vectors ==")
    dim = 32
    vec = ", ".join(
        f"cast(pmod(xxhash64(id, {j}), 2000) - 1000 as double) / 1000" for j in range(dim)
    )
    e = spark.range(50_000).selectExpr(
        "id as vec_id", f"array({vec}) as embedding"
    ).localCheckpoint()
    corpus = e.where("vec_id % 97 != 0")
    ev = e.where("vec_id % 97 = 0")
    timed(
        "expression path (zip_with/aggregate dot)",
        lambda: noop(
            similarity.semantic_decontaminate(corpus, ev, threshold=0.3, quantize=1000)
        ),
    )
    timed(
        "arrow GEMM path",
        lambda: noop(
            similarity.semantic_decontaminate_arrow(
                corpus, ev, threshold=0.3, quantize=1000
            )
        ),
    )


def step_containment(spark) -> None:
    print("== 5. containment join: xxhash64 keys vs shingle strings, 4x docs ==")
    d = synth_docs(spark, 8_000).localCheckpoint()
    probe = d.where("doc_id % 20 = 0")
    base = d.where("doc_id % 20 != 0")
    timed(
        "hash-keyed (shipped shape)",
        lambda: noop(dedup.shingle_containment(probe, base, "doc_id", "text", n=5)),
    )

    def string_keyed():  # the pre-r12 twin: join carries shingle strings
        pr = dedup.explode_col(
            dedup.token_shingle_arrays(probe, "doc_id", "text", 5), "shingles", "sh", "_id"
        )
        ba = dedup.explode_col(
            dedup.token_shingle_arrays(base, "doc_id", "text", 5), "shingles", "sh"
        ).select("sh").distinct()
        sizes = dedup.token_shingle_arrays(probe, "doc_id", "text", 5).select(
            "_id", F.size("shingles").alias("n")
        )
        m = pr.join(ba, "sh").groupBy("_id").agg(F.count(F.lit(1)).alias("m"))
        return sizes.join(m, "_id", "left")

    timed("string-keyed (pre-r12 twin)", lambda: noop(string_keyed()))


def main() -> None:
    spark = get_spark("r13-scale-validation")
    spark.range(1000).selectExpr("sum(id)").collect()
    steps = {
        "probe": step_probe,
        "winnow": step_winnow,
        "gemm": step_gemm,
        "containment": step_containment,
    }
    picks = sys.argv[1:] or list(steps)
    for p in picks:
        steps[p](spark)


if __name__ == "__main__":
    main()

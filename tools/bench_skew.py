"""Skew rehearsal for the extraction kernel (verdict-r4 item 4): plant
a heavy tail (1% of docs at ~60x words) and measure the REAL per-task
kernel wall-time histogram with and without the weight-bucketed tier
(pipeline._grouped_words heavy_words).

Method: the exact production kernel (_extract_iter_arrow_grouped) runs
inside a timing wrapper that consumes each task's batches fully and
emits ONE (task_ms, docs, words) row per task — task wall measured at
the source, no listener/REST plumbing. Reported: max/median task ms,
the straggler ratio, and end-to-end stage wall for both strategies.

Usage: python tools/bench_skew.py [n_docs] [heavy_pct] [inflate]
Appends nothing; prints one JSON line (paste into BENCH.md addendum).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
HEAVY_PCT = float(sys.argv[2]) if len(sys.argv) > 2 else 1.0
INFLATE = int(sys.argv[3]) if len(sys.argv) > 3 else 60
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main():
    import pyarrow as pa
    from pyspark.sql import functions as F

    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import (
        _extract_iter_arrow_grouped,
        _grouped_words,
    )
    from horus_spark.session import get_spark

    spark = get_spark(
        app_name="horus_bench_skew",
        master=f"local[{CPUS}]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    words = corpus_spark(spark, N_DOCS, partitions=CPUS)["ocr_words"]
    # heavy tail: doc_id hash mod 100 < HEAVY_PCT -> replicate words
    # INFLATE x with distinct line ids and shifted geometry
    # basis-point granularity so sub-1% tails work (the 1000-executor
    # regime scaled down: FEW heavy docs relative to task slots is
    # where hash placement straggles — Poisson(~1), not Poisson(15))
    is_heavy = (
        F.pmod(F.xxhash64("doc_id"), F.lit(10000)) < F.lit(int(HEAVY_PCT * 100))
    )
    b = F.col("bbox")
    reps = F.explode(F.sequence(F.lit(0), F.lit(INFLATE - 1))).alias("rep")
    heavy_words_df = (
        words.where(is_heavy)
        .select("*", reps)
        .where(F.col("rep") > 0)
        .select(
            "doc_id",
            "page",
            (F.col("line_id") + F.col("rep") * 1000).alias("line_id"),
            "word_id",
            "text",
            F.transform(
                b,
                lambda v, i: v
                + F.when(i % 2 == 1, F.col("rep") * 50.0).otherwise(0.0),
            ).alias("bbox"),
            "confidence",
        )
    )
    skewed = words.unionByName(heavy_words_df.drop("rep"), allowMissingColumns=True)
    path = f"/tmp/horus_skew_corpus_{N_DOCS}_{INFLATE}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        skewed.write.mode("overwrite").parquet(path)
    skewed = spark.read.parquet(path)

    def timed_kernel(batches):
        # consume the task fully through the REAL kernel, measuring
        # wall at the source; also count the task's input words (the
        # deterministic weight the time is noisy around)
        t0 = time.perf_counter()
        docs = nwords = 0
        seen = []
        for b in batches:
            seen.append(b)
            for arr in b.column(b.schema.get_field_index("words")):
                nwords += len(arr)
        for out in _extract_iter_arrow_grouped(iter(seen), None):
            docs += out.num_rows
        ms = (time.perf_counter() - t0) * 1000.0
        yield pa.RecordBatch.from_pydict(
            {"task_ms": [ms], "docs": [docs], "words": [nwords]}
        )

    def run(heavy_thresh, m=None):
        grouped = _grouped_words(
            skewed, heavy_words=heavy_thresh, heavy_partitions=m
        )
        t0 = time.perf_counter()
        rows = grouped.mapInArrow(
            timed_kernel, schema="task_ms double, docs long, words long"
        ).collect()
        wall = time.perf_counter() - t0
        ms = sorted(r["task_ms"] for r in rows if r["docs"] > 0)
        w = sorted(r["words"] for r in rows if r["docs"] > 0)
        return {
            "tasks": len(ms),
            "max_task_ms": round(ms[-1], 1),
            "median_task_ms": round(statistics.median(ms), 1),
            "straggler_ratio": round(ms[-1] / statistics.median(ms), 2),
            "max_task_words": w[-1],
            "median_task_words": int(statistics.median(w)),
            "weight_ratio": round(w[-1] / statistics.median(w), 2),
            "stage_wall_s": round(wall, 2),
            "docs": sum(r["docs"] for r in rows),
        }

    out = {
        "n_docs": N_DOCS,
        "heavy_pct": HEAVY_PCT,
        "inflate": INFLATE,
        "cpus": CPUS,
        "unbalanced": run(None),
        "balanced": run(2000),
        "balanced_tuned": run(2000, m=int(os.environ.get("HORUS_SKEW_M", "13"))),
    }
    # second pass to absorb warmup asymmetry (unbalanced ran cold)
    out["unbalanced_warm"] = run(None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

"""Heavy-tail skew control for the extraction kernel
(pipeline._grouped_words heavy_words tier): planted 60x-weight docs,
round-robin balance guarantees, output identity, and single-shuffle
plan shape."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from horus_spark.fixtures.generator import corpus_pandas
from horus_spark.pipeline import _grouped_words, run_extraction

N_DOCS = 120
N_HEAVY = 12
INFLATE = 60


def _skewed(spark):
    """Generator corpus with the first N_HEAVY docs inflated to ~60x
    words (distinct line_ids keep rows unique; all below the
    MAX_DOC_WORDS kernel cap so extraction stays well-defined)."""
    c = corpus_pandas(N_DOCS)
    words = c["ocr_words"]
    heavy_ids = sorted(words["doc_id"].unique())[:N_HEAVY]
    reps = []
    base = words[words["doc_id"].isin(heavy_ids)]
    for r in range(1, INFLATE):
        w = base.copy()
        w["line_id"] = w["line_id"] + 1000 * r
        # distinct geometry per replica: words at IDENTICAL coordinates
        # would make fragment order depend on collect_list arrival order
        # (a real corpus never has two words at the same point)
        off = 50.0 * r
        w["bbox"] = w["bbox"].apply(
            lambda b: [b[0], b[1] + off, b[2], b[3] + off,
                       b[4], b[5] + off, b[6], b[7] + off]
        )
        reps.append(w)
    skewed = pd.concat([words] + reps, ignore_index=True)
    return (
        spark.createDataFrame(c["documents"][["doc_id", "spans"]]),
        spark.createDataFrame(skewed),
        set(heavy_ids),
    )


def test_round_robin_tier_balances_heavy_docs(spark):
    _docs, words, heavy_ids = _skewed(spark)
    thr = 2000  # well above any normal doc (~250 words), below 60x docs
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    m = max(n // 4, 1)
    grouped = _grouped_words(words, heavy_words=thr)

    def part_stats(it):
        ids, w = [], 0
        for row in it:
            ids.append(row.doc_id)
            w += len(row.words)
        yield (ids, w)

    stats = grouped.rdd.mapPartitions(part_stats).collect()
    heavy_per_part = [
        sum(1 for d in ids if d in heavy_ids) for ids, _ in stats
    ]
    # the round-robin guarantee: heavy docs spread EXACTLY evenly over
    # the heavy tier — no partition carries more than ceil(k/m)
    cap = -(-N_HEAVY // m)
    assert max(heavy_per_part) <= cap
    assert sum(heavy_per_part) == N_HEAVY
    # heavy and normal docs never share a partition (tiered union)
    for ids, _ in stats:
        kinds = {d in heavy_ids for d in ids}
        assert len(kinds) <= 1

    # the unbalanced default CAN stack heavy docs (hash lottery); the
    # balanced tier must never be worse
    base_stats = (
        _grouped_words(words).rdd.mapPartitions(part_stats).collect()
    )
    base_heavy = [
        sum(1 for d in ids if d in heavy_ids) for ids, _ in base_stats
    ]
    assert max(heavy_per_part) <= max(base_heavy)


def test_outputs_identical_with_and_without_balancing(spark):
    docs, words, _ = _skewed(spark)
    plain = run_extraction(docs, words, run_id="skew").orderBy("doc_id")
    balanced = run_extraction(
        docs, words, run_id="skew", heavy_words=2000
    ).orderBy("doc_id")
    a = [r.asDict(recursive=True) for r in plain.collect()]
    b = [r.asDict(recursive=True) for r in balanced.collect()]
    # wall-clock stamps are the only permitted difference
    for d in a + b:
        d.pop("time_to_shred_ms", None)
        d.pop("shredding_utc_datetime", None)
    assert a == b and len(a) == N_DOCS


def test_balanced_plan_reuses_the_single_shuffle(spark):
    _docs, words, _ = _skewed(spark)
    grouped = _grouped_words(words, heavy_words=2000)
    qe = grouped._jdf.queryExecution()
    qe.executedPlan().execute().count()  # drive THIS plan so AQE finalizes
    plan = qe.executedPlan().toString()
    assert "isFinalPlan=true" in plan
    # the two tiers must re-read ONE groupBy exchange, not shuffle the
    # corpus twice (ReusedExchange/reused shuffle is the physical marker)
    assert "ReusedExchange" in plan or "ShuffleQueryStage" in plan and (
        plan.count("Exchange hashpartitioning(doc_id") <= 1
    )


def test_heavy_words_guard(spark):
    _docs, words, _ = _skewed(spark)
    with pytest.raises(ValueError):
        _grouped_words(words, heavy_words=0)

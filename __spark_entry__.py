"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship span-extraction pipeline over the sf0.001
documents table. `queries()` exposes one entry per implemented operator
family from SURVEY.md §2 (relational mappings of the reference's semantics
plus the training-data-pipeline operators); `oracle_sql()` provides the
DuckDB-equivalent SQL for every SQL-expressible query. Column names/aliases
match exactly between both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _fanout(df: DataFrame, key: str = "doc_id", factor: int = 2) -> DataFrame:
    """Normalize parallelism ahead of fan-out operators (shingle/token
    explodes multiply rows ~50x but Spark keeps the scan's partitioning):
    a compact input that arrives in fewer splits than cores would run the
    whole explode stage on a handful of threads. No-op when the source
    already has enough splits (the 100 TB case), so the extra shuffle of
    the compact input only happens when it is cheap."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    # plan-free split probe: every source file yields >=1 scan split, so
    # enough files CAN mean enough splits — but Spark packs many small
    # files into one FilePartition (maxPartitionBytes + openCostInBytes),
    # so the file count alone is NOT a lower bound on scan parallelism.
    # Estimate the packed split count from file sizes (a local stat per
    # file, still plan-free); if the files can't be statted (remote FS),
    # pay one physical-plan probe instead of silently under-parallelizing.
    files = df.inputFiles()
    if files:
        # run the estimate whenever the source is file-backed — a single
        # large SPLITTABLE file can scan as many FilePartitions, so the
        # old `len(files) >= target` gate forced a full repartition
        # exchange on exactly the inputs that least needed one.
        # Memoize per file set: the stat() sweep is a serial driver-side
        # syscall per file, and every oracle query funnels through here —
        # with 10^5 input files an uncached sweep would add seconds of
        # driver latency per query BUILD. The cache is bounded and keyed
        # by (paths, total bytes) so an in-place rewrite with different
        # sizes cannot serve a stale estimate.
        try:
            total = sum(os.path.getsize(p.removeprefix("file:")) for p in files)
        except OSError:
            total = -1
        cache_key = (tuple(sorted(files)), total, target)
        est_splits = _fanout._cache.get(cache_key)
        if est_splits is None:
            try:
                if total < 0:
                    raise OSError("unstattable input files")
                max_pb = int(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728").removesuffix("b"))
                open_cost = int(spark.conf.get("spark.sql.files.openCostInBytes", "4194304").removesuffix("b"))
                est_splits = -(-(total + open_cost * len(files)) // max_pb)
            except (OSError, ValueError):
                est_splits = df.rdd.getNumPartitions()
            if len(_fanout._cache) >= 128:
                _fanout._cache.clear()
            _fanout._cache[cache_key] = est_splits
        if est_splits >= target:
            return df
    return df.repartition(target, key)


_fanout._cache = {}


def _spans_from_text(docs: DataFrame) -> DataFrame:
    """Build the north-rule span shape from a plain text corpus: one text
    span per ~12-token chunk, offsets in order."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.greatest(F.ceil(F.size(toks) / 12).cast("int"), F.lit(1))
    spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.concat_ws(" ", F.slice(toks, (i * 12 + 1).cast("int"), 12)).alias("text"),
            F.lit("").alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return docs.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: span classification + text analytics over sf0.001."""
    from horus_spark.operators.boilerplate import is_boilerplate_text
    from horus_spark.operators.textstats import (
        fingerprint_expr,
        quality_score_expr,
        token_count_expr,
    )

    docs = _load(spark, "/root/testdata/sf0.001", "documents")
    spans = _spans_from_text(docs)
    classified = spans.withColumn(
        "spans_out",
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                F.when(is_boilerplate_text(s["text"]), F.lit("boilerplate"))
                .otherwise(F.lit("content"))
                .alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    full_text = F.concat_ws(" ", F.transform(F.col("spans"), lambda s: s["text"]))
    return classified.select(
        "doc_id",
        F.size("spans_out").alias("n_spans"),
        F.size(F.filter(F.col("spans_out"), lambda s: s["kind"] == "content")).alias(
            "n_content"
        ),
        token_count_expr(full_text).alias("n_tokens"),
        quality_score_expr(full_text).alias("quality_score"),
        fingerprint_expr(full_text).alias("fingerprint"),
    )


# ----------------------------------------------------------------- queries


def _q01_pricing_summary(spark, sf_dir):
    """A1/A3-family aggregation (TPC-H Q1 shape) — map-side partial aggs."""
    li = _load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2026-06-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_dsum(F.col("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(_dsum(F.col("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(_dsum(F.col("l_quantity")) / F.count("*"), 4).cast("double").alias("avg_qty"),
            F.round(_dsum(F.col("l_discount")) / F.count("*"), 4).cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def _dsum(col):
    """Order-independent exact sum: per-row double -> decimal(30,10) -> sum.
    Decimal addition is associative, so Spark's partition order and the
    oracle's sequential order produce bit-identical results."""
    return F.sum(col.cast("decimal(30,10)"))


def _q02_totals_chain(spark, sf_dir):
    """P13 + A1: the reference generator's per-line value chain and per-doc
    totals (19% tax / 15% shipping) mapped onto lineitem/orders
    (reference Horus.Generator/Models/GeneratorDocumentLineItem.cs:23-51,
    GeneratorDocument.cs:30-57)."""
    li = _load(spark, sf_dir, "lineitem")
    lines = li.select(
        "l_orderkey",
        F.col("l_extendedprice").alias("goods_value"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount_value"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("discounted_goods_value"),
        F.when(F.col("l_tax") > 0, F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .otherwise(F.lit(0.0))
        .alias("taxable_value"),
    )
    dgv = _dsum(F.col("discounted_goods_value"))
    txv = _dsum(F.col("taxable_value"))
    return (
        lines.groupBy("l_orderkey")
        .agg(
            F.round(dgv, 2).cast("double").alias("pre_tax_total"),
            F.round(txv * F.lit("0.19").cast("decimal(10,2)"), 2).cast("double").alias("tax_total"),
            F.round(dgv * F.lit("0.15").cast("decimal(10,2)"), 2).cast("double").alias("shipping_total"),
            F.round(
                dgv * F.lit("1.15").cast("decimal(10,2)") + txv * F.lit("0.19").cast("decimal(10,2)"), 2
            ).cast("double").alias("grand_total"),
        )
    )


def _q03_latest_per_key(spark, sf_dir):
    """J1/A4/W2: argmax-per-key (the model-registry 'latest version' lookup,
    reference Horus.Functions/HorusSql.cs:77-81) as a window top-1."""
    o = _load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", F.round("o_totalprice", 2).alias("latest_total"))
    )


def _q04_region_revenue(spark, sf_dir):
    """J2-family: chained broadcast dimension joins (customer->nation->region)."""
    o = _load(spark, sf_dir, "orders")
    c = _load(spark, sf_dir, "customer")
    n = _load(spark, sf_dir, "nation")
    r = _load(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(_dsum(F.col("o_totalprice")), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("r_name")
    )


def _q05_versioning(spark, sf_dir):
    """W1: document-versioning semantics (version = ROW_NUMBER per key by
    time, latest flag; reference SQL Patch/Add document versioning.sql:4-26,
    HorusSql.cs:221-233) over the events table."""
    # no split normalization here: the window's own hash exchange on
    # user_id immediately re-partitions, so a round-robin ahead of it
    # is pure extra exchange
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    return e.select(
        "event_id",
        "user_id",
        F.row_number().over(w).alias("doc_version"),
        (F.row_number().over(w) == F.count("*").over(wall)).alias("latest_version_indicator"),
    )


def _q06_tax_period(spark, sf_dir):
    """P5: TaxPeriod = year + month with NO zero padding
    (reference HorusProcessingEngine.cs:42-45)."""
    o = _load(spark, sf_dir, "orders")
    return (
        o.withColumn(
            "tax_period",
            F.concat(F.year("o_orderdate").cast("string"), F.month("o_orderdate").cast("string")),
        )
        .groupBy("tax_period")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(_dsum(F.col("o_totalprice")), 2).cast("double").alias("total"),
        )
    )


def _q07_error_taxonomy(spark, sf_dir):
    """P1-P3 error-channel semantics as severity classification
    (PRE0004 zero-value warning etc., reference ProcessingEngine.cs:61-101)."""
    li = _load(spark, sf_dir, "lineitem")
    classified = li.select(
        F.when(F.col("l_discount") == 0, F.lit("PRE0004"))
        .when(F.col("l_quantity") <= 1, F.lit("PRE0002"))
        .when(F.col("l_tax") == 0, F.lit("PRE0001"))
        .otherwise(F.lit("OK"))
        .alias("error_code"),
        F.when(F.col("l_discount") == 0, F.lit("Warning"))
        .when(F.col("l_quantity") <= 1, F.lit("Terminal"))
        .when(F.col("l_tax") == 0, F.lit("Warning"))
        .otherwise(F.lit("Observation"))
        .alias("severity"),
    )
    return classified.groupBy("error_code", "severity").agg(F.count("*").alias("n"))


def _q08_accuracy_score(spark, sf_dir):
    """A5/A6: Inspector-style scoring — 2dp-rounded equality, 20-point
    header + 80 points pro-rata over lines with INTEGER division
    (reference Horus.Inspector/Inspector.cs:342-413, quirk at 366-367)."""
    o = _load(spark, sf_dir, "orders")
    li = _load(spark, sf_dir, "lineitem")
    actual = li.groupBy("l_orderkey").agg(
        F.round(_dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2)
        .cast("double")
        .alias("actual_total"),
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("l_quantity") > 1, 1).otherwise(0)).alias("n_lines_ok"),
    )
    j = o.join(actual, o.o_orderkey == actual.l_orderkey)
    header_pts = F.when(F.round("o_totalprice", 2) == F.col("actual_total"), 20).otherwise(0)
    line_pts = F.floor(F.lit(80) / F.col("n_lines")) * F.col("n_lines_ok")
    return j.select(
        "o_orderkey",
        header_pts.cast("long").alias("header_points"),
        line_pts.cast("long").alias("line_points"),
        (header_pts + line_pts).cast("long").alias("score"),
    )


def _q09_sessionize(spark, sf_dir):
    """Streaming-analog sessionization (30-min gap) as windowed batch."""
    # no split normalization here: the window's own hash exchange on
    # user_id immediately re-partitions, so a round-robin ahead of it
    # is pure extra exchange
    e = _load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    sess = e.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
    sess = sess.withColumn("session_id", F.sum("new_session").over(w))
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
            F.round(_dsum(F.col("value")), 2).cast("double").alias("total_value"),
        )
    )


def _q10_dedup_exact(spark, sf_dir):
    from horus_spark.operators.dedup import exact_dedup

    d = _fanout(_load(spark, sf_dir, "documents")).withColumn("doc_id", F.col("doc_id").cast("string"))
    return exact_dedup(d)


def _q11_ngram_jaccard(spark, sf_dir):
    from horus_spark.operators.dedup import jaccard_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return jaccard_pairs(d, n=3, threshold=0.12)


def _q12_token_stats(spark, sf_dir):
    from horus_spark.operators.textstats import token_count_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(token_count_expr(F.col("text"))).alias("total_tokens"),
            F.round(_dsum(F.col("n_chars")) / F.count("*"), 2).cast("double").alias("avg_chars"),
        )
    )


def _q13_quality(spark, sf_dir):
    from horus_spark.operators.textstats import quality_score_expr, token_count_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_count_expr(F.col("text")).alias("n_tokens"),
        quality_score_expr(F.col("text")).alias("quality_score"),
    )


def _q14_langid(spark, sf_dir):
    from horus_spark.operators.textstats import langid_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        langid_expr(F.col("text")).alias("lang_pred"),
    )


def _q15_fingerprint(spark, sf_dir):
    from horus_spark.operators.textstats import fingerprint_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )


def _q16_simhash(spark, sf_dir):
    from horus_spark.operators.dedup import simhash

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return simhash(d, bits=32)


def _q17_ann_topk(spark, sf_dir):
    from horus_spark.operators.similarity import brute_force_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return brute_force_topk(e, q, k=10)


def _q18_label_norms(spark, sf_dir):
    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return (
        e.select("label", norm.alias("norm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(_dsum(F.col("norm")) / F.count("*"), 4).cast("double").alias("avg_norm"),
        )
    )


# ------- extraction-engine queries (non-SQL-expressible; rows-only checks)


def _q19_extract_documents(spark, sf_dir):
    """Full forms pipeline over the seeded synthetic corpus: shredded
    headers (SURVEY §2.2/§2.8 L1-L6 + P1-P9)."""
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import run_extraction

    c = corpus_spark(spark, 150, partitions=8)
    out = run_extraction(c["documents"], c["ocr_words"])
    return out.select(
        "doc_id", "thumbprint", "recognizer_status", "document_number",
        "tax_period", "account", "post_code",
        F.round("net_total", 2).alias("net_total"),
        F.round("grand_total", 2).alias("grand_total"),
        F.size("line_items").alias("n_lines"),
        F.size("errors").alias("n_errors"),
        "is_valid",
    )


def _q20_extract_spans(spark, sf_dir):
    """North-rule span classification output, exploded."""
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import run_extraction

    c = corpus_spark(spark, 150, partitions=8)
    out = run_extraction(c["documents"], c["ocr_words"])
    return out.select("doc_id", F.explode("spans_out").alias("s")).select(
        "doc_id", F.col("s.kind").alias("kind"), F.col("s.text").alias("text"),
        F.col("s.offset").alias("offset"), F.col("s.media_ref").alias("media_ref"),
    )


def _q21_minhash_pairs(spark, sf_dir):
    from horus_spark.operators.dedup import minhash_dedup_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return minhash_dedup_pairs(d, n=3, k=64, bands=16, threshold=0.3)


def _planes(seed: int, n_sets: int = 1):
    """Deterministic hyperplane sets (n_sets x 6 planes x 64 dims) — one
    recipe for every LSH query; distinct seeds give independent sets."""
    import numpy as np

    rng = np.random.RandomState(seed)
    sets = [rng.randn(6, 64).tolist() for _ in range(n_sets)]
    return sets[0] if n_sets == 1 else sets


def _q22_planes() -> list[list[float]]:
    return _planes(7)


def _q22_lsh_ann(spark, sf_dir):
    from horus_spark.operators.similarity import lsh_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return lsh_topk(e, q, _q22_planes(), k=10)


def _q23_cosine_neardup(spark, sf_dir):
    from horus_spark.operators.similarity import cosine_neardup_pairs

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return cosine_neardup_pairs(e, threshold=0.3)


def _lsh_planes() -> list[list[float]]:
    return _planes(11)


def _q24_lsh_cosine_pairs(spark, sf_dir):
    from horus_spark.operators.similarity import lsh_cosine_pairs

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return lsh_cosine_pairs(e, _lsh_planes(), threshold=0.2)


def _q25_ivf_topk(spark, sf_dir):
    from horus_spark.operators.similarity import ivf_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # 'lowest_id' = the deterministic SQL-parity stand-in; production
    # default is sample-fit k-means (see similarity.ivf_topk docstring)
    return ivf_topk(e, q, n_centroids=16, n_probe=4, k=10, centroids="lowest_id")


def _q26_model_registry(spark, sf_dir):
    """S11/A4/J1: versioned model-registry round-trip — MAX+1 registration
    (reference HorusSql.cs:145-208) then the latest-version argmax flag
    (HorusSql.cs:77-81), over a deterministic registration sequence.
    One registration goes through register_trained_model so the
    ModelTraining metadata columns (average_model_accuracy /
    n_training_docs — the reference's post-training parse,
    ModelTrainer.cs:186-224) ride the oracle too: its scores frame is a
    deterministic per-doc 0-100 score derived from the documents table."""
    from horus_spark.config import FORMAT_CONFIGS
    from horus_spark.registry import (
        bootstrap_registry,
        register_model,
        register_trained_model,
    )

    reg = bootstrap_registry(spark)
    reg = register_model(reg, "abc", "model-abc-0002", FORMAT_CONFIGS["abc"])
    scores = _fanout(_load(spark, sf_dir, "documents")).select(
        "doc_id", (F.col("n_chars") % 101).cast("double").alias("score")
    )
    reg = register_trained_model(
        reg, "abc", "model-abc-0003", FORMAT_CONFIGS["abc"], scores
    )
    reg = register_model(reg, "oscorp", "model-oscorp-0002", FORMAT_CONFIGS["oscorp"])
    w = Window.partitionBy("document_format")
    return reg.select(
        "document_format",
        "model_id",
        "model_version",
        (F.col("model_version") == F.max("model_version").over(w)).alias("is_latest"),
        F.round("average_model_accuracy", 6).alias("average_model_accuracy"),
        "n_training_docs",
    )


def _q27_score_summary(spark, sf_dir):
    """A7: per-team score rollup over the Inspector-style q08 scores
    (reference Inspector.cs:132-149)."""
    from horus_spark.operators.scoring import score_summary

    scored = _q08_accuracy_score(spark, sf_dir)
    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderpriority").alias("team")
    )
    return score_summary(scored.join(o, "o_orderkey"))


def _q28_asset_counts(spark, sf_dir):
    """A8: inspection asset-count scoring (reference Inspector.cs:435-506)
    over an asset listing derived from the documents table: every doc is a
    raw pdf in its source's container; docs with even n_chars also carry a
    labels file; source 'web' owns one .fott project file."""
    from horus_spark.operators.inspection import asset_count_scores

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("source").alias("container"),
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_chars",
    )
    pdfs = d.select("container", F.concat(F.col("doc_id"), F.lit(".pdf")).alias("name"))
    labels = d.filter(F.col("n_chars") % 2 == 0).select(
        "container", F.concat(F.col("doc_id"), F.lit(".pdf.labels.json")).alias("name")
    )
    fott = d.select("container").distinct().filter(F.col("container") == "web").select(
        "container", F.lit("project.fott").alias("name")
    )
    assets = pdfs.unionByName(labels).unionByName(fott)
    return asset_count_scores(assets)


def _q29_subword_stats(spark, sf_dir):
    """BPE-ish token counting (LLM-budget accounting): pre-tokenizer match
    counts per doc + whitespace token count for comparison."""
    from horus_spark.operators.textstats import subword_count_expr, token_count_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_count_expr(F.col("text")).alias("n_ws_tokens"),
        subword_count_expr(F.col("text")).alias("n_subwords"),
    )


def _q31_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 4x8-bit banded bucket join (pigeonhole-exact
    for hamming <= 3) verified by bit_count(xor)."""
    from horus_spark.operators.dedup import simhash_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return simhash_pairs(d, bits=32, bands=4, max_hamming=3)


def _media_frame(spark, sf_dir):
    """Deterministic media table derived from documents: payload = UTF-8
    text bytes, media_type round-robins by n_chars, duration 10ms/char."""
    d = _fanout(_load(spark, sf_dir, "documents"))
    mt = (
        F.when(F.col("n_chars") % 3 == 0, F.lit("video"))
        .when(F.col("n_chars") % 3 == 1, F.lit("image"))
        .otherwise(F.lit("audio"))
    )
    return d.select(
        F.concat(F.lit("asset-"), F.col("doc_id").cast("string")).alias("asset_id"),
        F.col("doc_id").cast("string").alias("doc_id"),
        mt.alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
        F.struct(
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.lit("h264").alias("codec"),
        ).alias("meta"),
    )


def _q37_media_features(spark, sf_dir):
    """Multimodal feature extraction (mapInPandas over binary payloads,
    deterministic sha256-derived fake decoder — the documented
    environment stub) oracle-checked end to end: the sha256 pipeline is
    reproduced in SQL, so the Arrow batching, binary handling and
    float32 feature storage are all hash-verified."""
    from horus_spark.operators.multimodal import extract_features

    feats = extract_features(_media_frame(spark, sf_dir), fake=True)
    return feats.select(
        "asset_id",
        "media_type",
        "feature_version",
        F.round(F.element_at("features", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("features", 8).cast("double"), 6).alias("f7"),
    )


def _q38_frame_sample(spark, sf_dir):
    """Video frame-sampling plan (explode of per-asset timestamp
    sequences; the per-frame decode is the stubbed step, the plan shape
    is what scales)."""
    from horus_spark.operators.multimodal import frame_sample

    return frame_sample(_media_frame(spark, sf_dir), every_ms=1000)


def _q36_salted_join(spark, sf_dir):
    """Salted skew join: lineitem (fact; at 100 TB a hot l_orderkey would
    straggle one reducer) joined to orders across 16 salt sub-keys —
    identical answer to the plain join (the oracle), work spread
    per-salt. Plan-asserted in pytest test_salted_join."""
    from horus_spark.operators.skew import salted_join

    li = _load(spark, sf_dir, "lineitem")
    o = _load(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    j = salted_join(li, o, on_left="l_orderkey", on_right="o_orderkey", n_salts=16)
    return (
        j.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(_dsum(F.col("l_quantity")), 2).cast("double").alias("total_qty"),
        )
        .orderBy("o_orderpriority")
    )


def _q34_quantized_ann(spark, sf_dir):
    """Two-tier ANN: int8 scalar-quantized cosine scan (4x less I/O at
    100 TB; integer dot products, engine-exact) -> exact float rerank of
    the top 3k candidates."""
    from horus_spark.operators.similarity import quantized_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return quantized_topk(e, q, k=10, rerank=3)


def _q39_ivf_quantized_ann(spark, sf_dir):
    """IVF-SQ: cell-pruned int8 coarse tier (q25's shuffle-free assignment
    composed with q34's quantized scoring) -> exact float rerank. The
    coarse tier reads only probed cells AND only int8 payloads — both
    pruning axes at once. 'lowest_id' centroids = the SQL-parity oracle
    stand-in; production default is sample-fit k-means."""
    from horus_spark.operators.similarity import ivf_quantized_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return ivf_quantized_topk(
        e, q, n_centroids=16, n_probe=4, k=10, rerank=3, centroids="lowest_id"
    )


def _q35_bucketed_join(spark, sf_dir):
    """Bucketed co-located join: both sides written CLUSTERED BY the join
    key into the same bucket count, so the sort-merge join runs with ZERO
    Exchange on either side (the 100 TB fact-fact join recipe when
    neither side broadcasts; pytest test_bucketed_join asserts the
    exchange-free plan). Only the final segment aggregate shuffles."""
    import shutil
    import tempfile

    loc = tempfile.mkdtemp(prefix="horus_q35_")
    try:
        o = _load(spark, sf_dir, "orders")
        c = _load(spark, sf_dir, "customer")
        for t in ("q35_orders_b", "q35_customer_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        (
            o.write.format("parquet").bucketBy(8, "o_custkey").sortBy("o_custkey")
            .option("path", f"{loc}/orders_b").mode("overwrite")
            .saveAsTable("q35_orders_b")
        )
        (
            c.write.format("parquet").bucketBy(8, "c_custkey").sortBy("c_custkey")
            .option("path", f"{loc}/customer_b").mode("overwrite")
            .saveAsTable("q35_customer_b")
        )
        ob = spark.table("q35_orders_b")
        cb = spark.table("q35_customer_b")
        j = ob.join(cb.hint("merge"), ob.o_custkey == cb.c_custkey)
        res = (
            j.groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.round(_dsum(F.col("o_totalprice")), 2).cast("double").alias("revenue"),
            )
            .orderBy("c_mktsegment")
        )
        rows = res.collect()
    finally:
        for t in ("q35_orders_b", "q35_customer_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(loc, ignore_errors=True)
    return spark.createDataFrame(
        rows, "c_mktsegment string, n_orders long, revenue double"
    )


def _q33_dedup_pipeline(spark, sf_dir):
    """Composed dedup recipe (exact-first -> canonical ids -> minhash-LSH
    tier): near-dup pairs among canonical representatives only. Same LSH
    parameters as q21, so the difference vs q21 is exactly the collapse of
    byte-identical clones before the fuzzy tier."""
    from horus_spark.operators.dedup import dedup_pipeline

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn("doc_id", F.col("doc_id").cast("string"))
    )
    return dedup_pipeline(d, n=3, k=64, bands=16, threshold=0.3, log_collapsed=False)[
        "fuzzy_pairs"
    ]


def _q40_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS: the q21 minhash pairs closed transitively via
    alternating large-star/small-star connected components (O(log n)
    rounds), every document mapped to its cluster's canonical (minimum)
    id with the cluster size — the keep-one-per-group step a 100 TB dedup
    pipeline runs after pair generation. Singletons map to themselves."""
    from horus_spark.operators.components import assign_clusters
    from horus_spark.operators.dedup import minhash_dedup_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    pairs = minhash_dedup_pairs(d, n=3, k=64, bands=16, threshold=0.3)
    return assign_clusters(d, pairs).select(
        F.col("id").alias("doc_id"), "cluster_id", "cluster_size"
    )


def _q32_versioned_sink(spark, sf_dir):
    """W1+S4 end-to-end: the versioning semantics stamped on the engine's
    OWN sink output (reference HorusSql.cs:221-249, SQL Patch/Add document
    versioning.sql:4-26). The seeded corpus is extracted and persisted
    TWICE (a duplicate upload of every document): the sink appends version
    1 then 2 per file, the derived latest flag flips to the re-upload, and
    the thumbprints match across uploads (verified against the committed
    q19 golden, which contributes doc_id+thumbprint independently)."""
    import shutil
    import tempfile

    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import run_extraction
    from horus_spark.sources.sink import (
        read_documents_versioned,
        write_documents_versioned,
    )

    c = corpus_spark(spark, 150, partitions=8)
    out = tempfile.mkdtemp(prefix="horus_q32_")
    try:
        for rid in ("r1", "r2"):
            ext = run_extraction(c["documents"], c["ocr_words"], run_id=rid)
            write_documents_versioned(ext, out)
        v = read_documents_versioned(spark, out)
        # materialize before the tempdir vanishes
        rows = v.select(
            "doc_id", "thumbprint", "document_version", "latest_version_indicator"
        ).collect()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "doc_id string, thumbprint string, document_version int, "
        "latest_version_indicator boolean",
    )


def _q30_planes() -> list:
    return _planes(23, n_sets=3)


def _q30_multiband_cosine(spark, sf_dir):
    """OR-amplified LSH near-dup (3 bands x 6 hyperplanes): superset recall
    of the single-band q24 tier, exact-cosine verified."""
    from horus_spark.operators.similarity import lsh_cosine_pairs_multiband

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return lsh_cosine_pairs_multiband(e, _q30_planes(), threshold=0.2)


def _q41_sequence_packing(spark, sf_dir):
    """Training-sequence packing: shard-parallel greedy next-fit over
    whitespace token counts (budget 512 tokens, 8 md5-derived shards).
    Only (shard, doc_id, n_tokens) crosses the packing shuffle — the
    payload joins back by id. Oracle replays the exact algorithm as a
    recursive CTE."""
    from horus_spark.operators.packing import pack_sequences
    from horus_spark.operators.textstats import token_count_expr

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_count_expr(F.col("text")).alias("n_tokens"),
    )
    return pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=8)


def _q42_stratified_sample(spark, sf_dir):
    """Deterministic corpus curation: per-language hash sampling (en 0.8,
    de 0.5, fr 0.25, others 0.1) composed with a 20-doc cap per source —
    both decisions derived from md5(doc_id), so the sample is identical
    on every engine/run/partitioning. The sample filter is map-side
    (zero shuffle); the cap plans as WindowGroupLimit."""
    from horus_spark.operators.sampling import cap_per_key, stratified_sample

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "source"
    )
    s = stratified_sample(
        d,
        "lang",
        {"en": 0.8, "de": 0.5, "fr": 0.25},
        key_col="doc_id",
        default_rate=0.1,
        salt="s42",
    )
    return cap_per_key(s, ["source"], 20, ["doc_id"])


def _q43_asof_join(spark, sf_dir):
    """Point-in-time join: each purchase event matched to the latest view
    event at-or-before it for the same user (NULLs when none) — the
    union-and-carry as-of join: ONE shuffle of |left|+|right| rows, no
    inequality-join row explosion. Oracle is DuckDB's native ASOF JOIN."""
    from horus_spark.operators.asof import asof_join

    ev = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    j = asof_join(
        purchases, views, on=["user_id"], left_ts="ts", right_ts="ts"
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("asof_ts").alias("view_ts"),
        F.col("asof_view_event_id").alias("view_event_id"),
    )


def _q44_interval_join(spark, sf_dir):
    """Range join: click events falling inside the 2-hour window after an
    error event of the same user — bucketized to an equi-join on
    (user, time-bucket) so the plan is an ordinary hash join (no
    BroadcastNestedLoopJoin, no per-key pair explosion)."""
    from horus_spark.operators.rangejoin import interval_join

    ev = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end_ts"),
    )
    j = interval_join(
        clicks,
        errors,
        on=["user_id"],
        left_ts="click_ts",
        right_start="start_ts",
        right_end="end_ts",
        bucket_width_s=7200,
    )
    return j.select("click_id", "user_id", "click_ts", "error_id")


def _q45_repetition(spark, sf_dir):
    """Gopher/MassiveText repetition filter signals per document: top
    n-gram occupancy and duplicate-n-gram occurrence fraction for
    n in {2,3} — explode -> per-(doc,gram) count -> per-doc aggregate,
    partial aggregation ahead of each exchange."""
    from horus_spark.operators.textstats import repetition_stats

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return repetition_stats(d, "doc_id", "text", ns=(2, 3))


def _q46_weighted_sample(spark, sf_dir):
    """Weighted sample without replacement, 10 docs per language with
    probability proportional to n_chars: Efraimidis-Spirakis exponential
    sort over deterministic md5 uniforms — reproducible across engines
    and partitionings, planned as WindowGroupLimit top-k."""
    from horus_spark.operators.sampling import weighted_sample_per_key

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "lang",
        F.col("n_chars").cast("double").alias("w"),
    )
    return weighted_sample_per_key(d, ["lang"], "w", 10, "doc_id", salt="s46")


def _q47_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3/Gopher recipe): normalized word
    5-grams of every corpus doc probed against the distinct 5-gram set
    of a benchmark slice (doc_id % 20 == 0), broadcast md5-digest join,
    per-doc collision counts. Corpus rows never shuffle on gram keys."""
    from horus_spark.operators.decontam import decontaminate

    d = _fanout(_load(spark, sf_dir, "documents"))
    bench = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return decontaminate(corpus, bench, n=5, min_collisions=1, normalize=True)


def _q48_semantic_dedup(spark, sf_dir):
    """SemDeDup: IVF cell assignment (map-side argmax, zero corpus
    Exchange) -> within-cell cosine-threshold pairs -> large-star/
    small-star closure -> canonical cluster per embedding. 'lowest_id'
    centroids are the deterministic SQL-parity stand-in; production
    default is sample-fit k-means (see semdedup docstring)."""
    from horus_spark.operators.semdedup import semantic_dedup

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return semantic_dedup(
        e, n_centroids=8, threshold=0.35, centroids="lowest_id"
    )


def _q49_top_ngrams(spark, sf_dir):
    """Corpus-wide top-50 word bigrams by occurrence, with distinct-doc
    spread: explode -> per-(doc, gram) pre-aggregate -> per-gram
    aggregate -> TakeOrderedAndProject top-k (never a full sort)."""
    from horus_spark.operators.textstats import top_ngrams

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return top_ngrams(d, "doc_id", "text", n=2, k=50)


def _q50_bloom_decontaminate(spark, sf_dir):
    """q47's decontamination with the bloom pre-filter tier in front of
    the exact digest join: benchmark grams -> compact m/64-long bitmap
    (bounded collect BY CONSTRUCTION, 8 KiB at m=2^16) -> map-side
    bitmap-literal probe prunes corpus grams BEFORE any join. Same
    answer as the exact path (no false negatives), which is exactly what
    the oracle verifies — the SQL is q47's exact recipe verbatim."""
    from horus_spark.operators.bloom import bloom_decontaminate

    d = _fanout(_load(spark, sf_dir, "documents"))
    bench = d.filter(F.col("doc_id") % 20 == 0)
    corpus = d.filter(F.col("doc_id") % 20 != 0).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    return bloom_decontaminate(
        corpus, bench, n=5, min_collisions=1, normalize=True,
        m_bits=1 << 16, k_hashes=4,
    )


def _q51_kmv_distinct(spark, sf_dir):
    """KMV distinct-count sketch: estimated distinct document texts per
    language (near-exact-dup rate survey). Stage 1 keeps k smallest
    md5-uniform hashes per group per Arrow batch (bounded state, zero
    shuffle); stage 2 merges <= batches*k rows. Estimate is (k-1)/h_k —
    deterministic, partitioning-invariant, identical math in DuckDB."""
    from horus_spark.operators.sketches import kmv_distinct

    d = _fanout(_load(spark, sf_dir, "documents"))
    return kmv_distinct(d, ["lang"], "text", k=32, salt="s51")


def _q52_bm25(spark, sf_dir):
    """BM25 top-25 documents for a fixed query. Query terms are pruned
    map-side before the tf aggregation (the corpus-wide posting list is
    never built); corpus stats ride a broadcast scalar aggregate; top-k
    resolves as TakeOrderedAndProject."""
    from horus_spark.operators.ranking import bm25_topk

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return bm25_topk(d, "spark hash join window", k=25)


def _q53_doc_chunks(spark, sf_dir):
    """Training-window chunking: 8-token windows at stride 6 (overlap 2)
    over every document — a single map-side projection (split, sequence,
    transform, slice, explode), ZERO shuffles, zero Python; chunks
    inherit the scan's partitioning."""
    from horus_spark.operators.chunking import chunk_documents

    d = _fanout(_load(spark, sf_dir, "documents"))
    return chunk_documents(d, "doc_id", "text", window=8, stride=6)


def _q54_pii(spark, sf_dir):
    """PII detection over text: emails / card-shaped digit runs / phones
    / IPs counted per doc via regexp_count — a pure map-side projection
    (zero shuffle, zero Python). The corpus text carries no PII, so the
    query plants deterministic PII spans by doc_id%3 with the SAME
    expression as the oracle; the operator sees realistic mixed text."""
    from horus_spark.operators.pii import pii_stats

    d = _fanout(_load(spark, sf_dir, "documents"))
    planted = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"), F.lit("@example.com now")),
            )
            .when(F.col("doc_id") % 3 == 1, F.lit(" call +1 555-123-4567 or ping 10.0.0.1"))
            .otherwise(F.lit(" pay 4111 1111 1111 1111 today")),
        ).alias("text"),
    )
    return pii_stats(planted)


def _q55_domain_counts(spark, sf_dir):
    """Per-domain corpus survey (doc counts, distinct normalized URLs,
    mean path depth) — drives per-domain caps/blocklists. URLs are
    derived deterministically from (source, doc_id) with the same
    expression as the oracle; normalization strips fragments, default
    ports, and trailing slashes before the countDistinct."""
    from horus_spark.operators.urls import domain_counts

    d = _fanout(_load(spark, sf_dir, "documents"))
    with_url = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".example.com"),
            F.when(F.col("doc_id") % 7 == 0, F.lit(":443")).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("/docs/p"), F.col("doc_id").cast("string"), F.lit("/")),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
        ).alias("url"),
    )
    return domain_counts(with_url)


def _q56_dup_paragraphs(spark, sf_dir):
    """Cross-document duplicated-passage stats (CCNet-style): disjoint
    4-token windows (chunk_documents composition, map-side) -> md5
    digests -> ONE digest aggregation (16-byte keys through the shuffle,
    never chunk text) -> per-doc duplicated fraction."""
    from horus_spark.operators.paragraphs import duplicate_paragraph_stats

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return duplicate_paragraph_stats(d, window=4)


def _q57_lm_score(spark, sf_dir):
    """CCNet-style corpus-model quality scoring: unigram LM fit on the
    corpus (one vocab-sized aggregation), every doc scored by mean token
    log-probability (broadcast token join + one per-doc agg). Micro-int
    logprob summation makes the mean summation-order-deterministic."""
    from horus_spark.operators.lm_score import lm_score

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return lm_score(d)


def _q58_top_per_key(spark, sf_dir):
    """Group-wise top-k: 3 longest documents per language. The
    row_number-filter plans as WindowGroupLimit — every scan partition
    keeps its local top-3 per lang BEFORE the exchange, so the shuffle
    carries at most partitions*k rows per key (pytest asserts the node)."""
    from horus_spark.operators.topk import top_k_per_key

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars"
    )
    return top_k_per_key(d, ["lang"], "n_chars", k=3, tie_col="doc_id")


def _q59_label_centroids(spark, sf_dir):
    """Embedding mean-pool per label (class centroids): posexplode ->
    one (label, pos) aggregation whose shuffle carries dims*labels
    partial sums — never vectors — with exact micro-int accumulation so
    the centroid is bit-stable under any partitioning."""
    from horus_spark.operators.pooling import mean_pool

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return mean_pool(e, ["label"], "embedding")


def _q60_dsir_weights(spark, sf_dir):
    """DSIR importance resampling weights (Xie et al. 2023): hashed
    unigram+bigram bucket models (md5, engine-portable) for the lang='en'
    target slice vs the whole corpus; per-doc log weight accumulated as
    micro-ints so the score is partitioning/engine deterministic. The
    B-row log-ratio table broadcasts; scoring is ONE per-doc agg."""
    from horus_spark.operators.dsir import dsir_log_weights

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return dsir_log_weights(d, F.col("lang") == "en", n_buckets=1024)


def _q61_dup_spans(spark, sf_dir):
    """Sliding-window exact-substring duplication coverage (Lee et al.
    2022 ExactSubstr shape): every 4-token window hashed map-side, one
    digest-only corpus aggregation, per-doc interval-union coverage of
    windows that occur in >= 2 documents."""
    from horus_spark.operators.paragraphs import duplicate_span_coverage

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return duplicate_span_coverage(d, window=4)


def _q62_domain_mixture(spark, sf_dir):
    """Temperature-scaled domain mixture (mT5/UniMax alpha-sampling):
    per-source token masses -> p_mix ∝ p_raw^0.3 -> token allocation of
    a 1M-token budget + implied epochs. One corpus aggregation; the
    normalizer sums micro-int weights so shares are order-independent."""
    from horus_spark.operators.mixture import temperature_mixture

    d = _fanout(_load(spark, sf_dir, "documents"))
    return temperature_mixture(d, "source", alpha=0.3, token_budget=1_000_000)


def _q63_quality_filter(spark, sf_dir):
    """Gopher-rule composed quality gate (Rae et al. 2021 A.1.1):
    word-count/mean-word-length/symbol/bullet/ellipsis/alpha/stopword
    rules as named boolean columns + the conjunction verdict. Pure
    codegen expressions — a map-side filter that fuses into the scan."""
    from horus_spark.operators.quality_filter import gopher_quality_filter

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return gopher_quality_filter(d, min_words=5)


def _q64_dedup_keep_best(spark, sf_dir):
    """The dedup DECISION recipe: q21's minhash pairs -> connected
    components -> per-cluster argmax-quality winner (n_chars, min-id
    tie-break). Every doc gets a row with its cluster, size and keep
    verdict — filter keep for the surviving corpus. The winner window
    plans as WindowGroupLimit (map-side top-1 per cluster)."""
    from horus_spark.operators.components import keep_best_per_cluster
    from horus_spark.operators.dedup import minhash_dedup_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    pairs = minhash_dedup_pairs(d, n=3, k=64, bands=16, threshold=0.3)
    return keep_best_per_cluster(d, pairs, "n_chars")


def _q65_containment_pairs(spark, sf_dir):
    """Asymmetric n-gram containment pairs (Broder's second resemblance
    measure): catches subset/superset duplication Jaccard misses. Exact
    tier over the pruned inverted index, both directions reported."""
    from horus_spark.operators.dedup import containment_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return containment_pairs(d, n=3, threshold=0.5)


def _q66_pagerank(spark, sf_dir):
    """Fixed-iteration PageRank over a deterministic synthetic link
    graph (two edge rules over doc_id mod 211; src % 23 == 0 edges
    dropped so those nodes are DANGLING — exercising the redistribution
    path). All arithmetic is integer micro-units, so the 8-iteration
    rank vector is bit-identical across partitionings and engines; the
    oracle replays the same recursion in a recursive CTE."""
    from horus_spark.operators.graph import pagerank

    d = _fanout(_load(spark, sf_dir, "documents"))
    edges = (
        d.select(
            (F.col("doc_id") % 211).alias("src"),
            ((F.col("doc_id") * 31 + 7) % 211).alias("dst"),
        )
        .unionAll(
            d.select(
                (F.col("doc_id") % 211).alias("src"),
                ((F.col("doc_id") * 17 + 3) % 211).alias("dst"),
            )
        )
        .filter(F.col("src") % 23 != 0)
    )
    return pagerank(edges, n_iter=8)


def _q67_heavy_hitters(spark, sf_dir):
    """Exact phi-heavy-hitter tokens (count >= 0.3% of the stream) via
    the two-pass Misra-Gries recipe: bounded per-partition candidate
    summaries, then an exact count over the semi-join-pruned survivors
    only. The candidate SET depends on partitioning; the ANSWER is
    exact and does not (the threshold compare is pure integer math)."""
    from horus_spark.operators.sketches import heavy_hitters

    d = _fanout(_load(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(toks, "token", threshold_ppm=3000)


def _q68_time_rollup(spark, sf_dir):
    """Hypertable-style continuous aggregate: 6-hour buckets per
    event_type with gap-fill over the global extent and LOCF of the
    value sum across silent buckets. Micro-int sums keep the rollup
    engine-deterministic; the gap-fill dimension is built from two tiny
    aggregates, never from corpus rows."""
    from horus_spark.operators.rollup import time_bucket_rollup

    e = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    return time_bucket_rollup(
        e, "ts", "event_type", "value", width_s=21600
    )


def _q69_zorder_key(spark, sf_dir):
    """Z-order (Morton) layout keys over (user_id, event_id) bucket
    coordinates — the clustering key for 2-D parquet data skipping
    (Delta OPTIMIZE ZORDER BY's math). Pure shift/mask long expressions;
    the oracle replays the same five bit-spreads."""
    from horus_spark.operators.zorder import zorder_key_expr

    e = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    return e.select(
        "event_id",
        (F.col("user_id") % 65536).alias("zx"),
        (F.col("event_id") % 65536).alias("zy"),
    ).withColumn("z_key", zorder_key_expr(F.col("zx"), F.col("zy")))


def _q70_grouped_quantiles(spark, sf_dir):
    """Exact grouped quantiles (p25/p50/p75/p90) of event value per
    type. Values are cast to integer cents FIRST so the linear
    interpolation at dyadic fractions is exact in double arithmetic —
    that is what makes Spark's percentile() and DuckDB's
    quantile_cont() bit-identical here (function-parity coverage for
    the reference's summary statistics tier)."""
    e = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    return (
        e.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        .groupBy("event_type")
        .agg(
            F.expr("percentile(cents, array(0.25D, 0.5D, 0.75D, 0.9D))").alias("p")
        )
        .select(
            "event_type",
            F.round(F.col("p")[0] / 100, 6).alias("p25"),
            F.round(F.col("p")[1] / 100, 6).alias("p50"),
            F.round(F.col("p")[2] / 100, 6).alias("p75"),
            F.round(F.col("p")[3] / 100, 6).alias("p90"),
        )
    )


def _q71_corpus_split(spark, sf_dir):
    """Deterministic train/val/test split survey: every doc assigned by
    md5(doc_id||salt) % 1e6 against cumulative ppm boundaries (98/1/1),
    rolled up per (split, lang). Pure integer map-side assignment — a
    document's split never changes when the corpus grows, the property
    leakage audits need and randomSplit lacks."""
    from horus_spark.operators.sampling import split_assign

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    return (
        split_assign(d, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _q72_global_rownum(spark, sf_dir):
    """Global row numbering in event_id order WITHOUT the single-task
    global window: range-repartition + sortWithinPartitions, local index
    free from monotonically_increasing_id's packed (pid, local) layout,
    per-partition counts cumsum'd into offsets and broadcast back. One
    corpus shuffle total (the second consumer rides ReusedExchange)."""
    from horus_spark.operators.indexing import global_row_number

    e = _fanout(_load(spark, sf_dir, "events"), key="event_id").select("event_id", "user_id")
    return global_row_number(e, ["event_id"]).select(
        "event_id", "user_id", "row_num"
    )


def _q73_kmeans_clusters(spark, sf_dir):
    """Full-corpus distributed Lloyd k-means (5 iterations, k=8): the
    cluster-update arithmetic is exact (micro-int sums, exact-integer
    double division between iterations), so the final centroids are a
    pure function of the data and the recursive-CTE oracle replays all
    five iterations bit-identically. Assignment is a zero-Exchange
    map-side argmin over literal centroids; the update shuffle carries
    k x d partials, never vectors."""
    from horus_spark.operators.kmeans import kmeans_clusters

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return kmeans_clusters(e, k=8, n_iter=5)


def _q74_epoch_shuffle(spark, sf_dir):
    """Deterministic epoch-1 training shuffle: every document's position
    in the epoch's permutation = global row number over (md5(id ||
    'epoch1'), id). Reproducible, resumable, and independent across
    epochs — the hash key's uniformity is exactly what the two-level
    numbering's extent bucketing wants."""
    from horus_spark.operators.indexing import epoch_shuffle

    d = _fanout(_load(spark, sf_dir, "documents")).select("doc_id")
    return epoch_shuffle(d, "doc_id", epoch=1)


def _q75_ccnet_tiers(spark, sf_dir):
    """CCNet head/middle/tail quality tiering: rank by unigram-LM mean
    log-probability, cut by integer RANK arithmetic (((rank-1)*3) div n)
    rather than interpolated tercile boundaries — 1/3 is not dyadic, so
    value interpolation is not engine-portable; ranks are. The ranking
    rides global_row_number's two-level recipe (no single-task sort)."""
    from horus_spark.operators.lm_score import ccnet_tiers

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return ccnet_tiers(d)


def _q76_incremental_dedup(spark, sf_dir):
    """Incremental dedup of a NEW ingest batch against a persisted corpus
    fingerprint index (id, content_md5, minhash sig) — per-batch cost is
    O(batch + matched slice), the corpus TEXT is never re-read. Four
    verdict tiers (exact vs index, exact in-batch, LSH+signature-verified
    near vs index, near in-batch), first hit wins, partner = min
    qualifying id. The batch is the hash-split new slice plus exact
    clones of every md5%7 doc ('-copy' ids), so both exact tiers fire:
    clones of existing-side docs land exact_existing, clones of
    batch-side docs land exact_batch."""
    from horus_spark.operators.dedup import build_dedup_index, incremental_dedup

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    hmod = F.conv(F.substring(F.md5(F.col("doc_id")), 1, 7), 16, 10).cast("long")
    existing = d.filter(hmod % 5 != 0)
    clones = d.filter(hmod % 7 == 0).select(
        F.concat(F.col("doc_id"), F.lit("-copy")).alias("doc_id"), "text"
    )
    batch = d.filter(hmod % 5 == 0).unionByName(clones)
    return incremental_dedup(batch, build_dedup_index(existing))


def _q77_cluster_balanced_sample(spark, sf_dir):
    """Diversity-preserving downsample: equal per-cluster quota (5) from
    the q73 bit-exact k-means clustering, picked in the deterministic
    md5-hash order within each cluster — a uniform draw that cannot
    over-represent the corpus's dense modes. The oracle replays the
    five Lloyd iterations recursively and applies the same window."""
    from horus_spark.operators.kmeans import cluster_balanced_sample

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return cluster_balanced_sample(e, k=8, n_iter=5, per_cluster=5)


def _q78_bigram_lm(spark, sf_dir):
    """Bigram LM quality scoring with interpolated unigram backoff —
    CCNet one order up: fit on the hash-selected 'reference' two-thirds
    of the corpus, score EVERY doc, so the held-out third exercises the
    unseen-bigram backoff and OOV paths that a self-fit never hits.
    Mean logprob is summed as integer micro-logprobs (order-independent,
    engine-portable)."""
    from horus_spark.operators.lm_score import bigram_lm_score
    from horus_spark.operators.sampling import md5_long

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    ref = d.filter(md5_long(F.col("doc_id"), "q78") % 3 != 0)
    return bigram_lm_score(d, ref=ref)


def _q79_c4_clean(spark, sf_dir):
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): keep only
    lines ending in terminal punctuation, with >= 5 words, carrying no
    blocklist phrase; flag whole docs containing 'lorem ipsum'/'{'. The
    corpus has no newlines, so the multi-line input is synthesized
    deterministically: tokens chunked into 8-token lines, '.' appended
    when md5(doc#idx)%3!=0, junk/short/lorem lines planted on md5-chosen
    doc subsets so every rule fires on real rows. One map-side pass."""
    from horus_spark.operators.c4 import c4_line_stats
    from horus_spark.operators.sampling import md5_long

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    starts = F.sequence(F.lit(0), n - 1, F.lit(8))
    base_lines = F.transform(
        starts,
        lambda s: F.concat(
            F.concat_ws(" ", F.slice(toks, s + 1, 8)),
            F.when(
                md5_long(
                    F.concat_ws("#", F.col("doc_id"), (s / 8).cast("long")), "q79p"
                )
                % 3
                != 0,
                F.lit(" ."),
            ).otherwise(F.lit("")),
        ),
    )
    h = md5_long(F.col("doc_id"), "q79j")
    lines = F.when(
        h % 5 == 0,
        F.concat(
            F.array(F.lit("please enable javascript and accept the cookie banner .")),
            base_lines,
        ),
    ).otherwise(base_lines)
    lines = F.when(h % 7 == 0, F.concat(lines, F.array(F.lit("ok .")))).otherwise(
        lines
    )
    lines = F.when(
        h % 11 == 0, F.concat(lines, F.array(F.lit("lorem ipsum dolor sit amet .")))
    ).otherwise(lines)
    synth = d.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id", F.array_join(lines, "\n").alias("text")
    )
    return c4_line_stats(synth)


def _q80_pmi_collocations(spark, sf_dir):
    """Corpus-level PMI collocation mining (word2phrase shape): bigram
    association over corpus totals, min_count-pruned BEFORE any join,
    two agg shuffles + two hash joins + broadcast totals, top-k via
    TakeOrdered. Ranks by ASSOCIATION where q49 ranks by frequency."""
    from horus_spark.operators.collocations import pmi_collocations

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return pmi_collocations(d, min_count=5, top_k=50)


def _q81_char_entropy(spark, sf_dir):
    """Per-doc character-level Shannon entropy — the cheap garbage/
    template detector. Pure map-side: per distinct char, count via the
    length-of-replace trick; -p ln p terms snapped to integer micro-nats
    BEFORE summation so the fold is order-independent (DuckDB's
    list_distinct promises the same SET, not the same order)."""
    from horus_spark.operators.textstats import char_entropy

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return char_entropy(d)


def _q82_hamming_ann(spark, sf_dir):
    """Binary ANN: 1-bit sign codes (32x smaller than float32 — the
    aggressive end of the quantization ladder next to q34's int8) ->
    integer Hamming candidate scan (XOR+popcount, zero float ties) ->
    exact float cosine rerank of the top 3k."""
    from horus_spark.operators.similarity import hamming_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return hamming_topk(e, q, k=10, rerank=3)


def _q83_hll_distinct(spark, sf_dir):
    """Per-language HyperLogLog distinct-text estimate on the portable
    md5 hash (the register sibling of q51's KMV): register projection is
    map-side, the partial agg caps what crosses the Exchange at m=64
    rows per group per task, and the dyadic register fold is
    exact-integer so the estimate is partitioning-invariant."""
    from horus_spark.operators.sketches import hll_distinct

    d = _fanout(_load(spark, sf_dir, "documents"))
    return hll_distinct(d, ["lang"], "text", p=6, salt="s83")


def _q84_rrf_fusion(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-25 fused with dense-cosine
    top-25 by reciprocal-rank fusion (Cormack et al. 2009). Each tier is
    already top-k-bounded, so the fuse is one tiny hash agg; scores from
    the two tiers are never compared directly — only ranks."""
    from horus_spark.operators.ranking import bm25_topk, rrf_fuse
    from horus_spark.operators.similarity import brute_force_topk

    d = _fanout(_load(spark, sf_dir, "documents")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    lex = bm25_topk(d, "spark hash join window", k=25)
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_ranked = lex.select("doc_id", F.row_number().over(w).alias("rank"))

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dense_ranked = brute_force_topk(e, q, k=25).select(
        F.col("neighbor_id").cast("string").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex_ranked, dense_ranked], id_col="doc_id", topk=20)


def _q85_tfidf_pairs(spark, sf_dir):
    """Sparse lexical near-dup: df-pruned TF-IDF cosine pairs (the
    term-vector sibling of q23's embedding cosine). Hot terms (df>50)
    and singletons are dropped BEFORE the inverted-index self-join, so
    posting-list fan-out is bounded; the dot-product shuffle carries
    (id_a, id_b, w_a*w_b) only — never text or full vectors."""
    from horus_spark.operators.tfidf import tfidf_cosine_pairs

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return tfidf_cosine_pairs(d, threshold=0.3, max_df=50)


def _q86_winnow_pairs(spark, sf_dir):
    """Winnowing (MOSS, SIGMOD 2003) local-duplication candidates: every
    shared passage of >= w+k-1 tokens is guaranteed to collide on a
    selected fingerprint. Selection is a pure map-side array expression;
    the join shuffles (fp, id) longs only, df-capped at 50."""
    from horus_spark.operators.winnow import winnow_candidate_pairs

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return winnow_candidate_pairs(d, k=3, w=4, min_shared=2, max_df=50, salt="s86")


def _q87_scd2_history(spark, sf_dir):
    """SCD-type-2 order-status history per customer (gaps-and-islands):
    consecutive equal states collapse to [valid_from, valid_to) runs.
    ONE shuffle on the key — the lag, the running sum, the aggregation
    and the lead all share the same partitioning."""
    from horus_spark.operators.scd import scd2_history

    o = _load(spark, sf_dir, "orders")
    return scd2_history(
        o,
        key_cols=["o_custkey"],
        ts_col="o_orderdate",
        state_col="o_orderstatus",
        tiebreak_col="o_orderkey",
    )


def _interleaved_docs(spark, sf_dir) -> DataFrame:
    """North-rule interleaved corpus derived from documents (see
    _interleave_spans_over for the construction)."""
    return _interleave_spans_over(_fanout(_load(spark, sf_dir, "documents")))


def _interleave_spans_over(d: DataFrame) -> DataFrame:
    """Interleaved span construction over a (doc_id numeric, text) frame:
    12-token text chunks with a media span inserted after every chunk
    whose index i has i % 3 == 2 (kind alternates image/video by
    (doc_id+i) parity, media_ref = 'asset-<doc_id>-<i>'); offsets
    renumbered 0..n-1 in interleaved order. Same construction reproduced
    row-wise in the q88-q91 oracles."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.greatest(F.ceil(F.size(toks) / 12).cast("int"), F.lit(1))
    text_spans = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            F.lit("text").alias("kind"),
            F.concat_ws(" ", F.slice(toks, (i * 12 + 1).cast("int"), 12)).alias("text"),
            F.lit("").alias("media_ref"),
            (i * 2).cast("int").alias("offset"),
        ),
    )
    media_spans = F.filter(
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.when(
                i % 3 == 2,
                F.struct(
                    F.when((F.col("doc_id") + i) % 2 == 0, F.lit("image"))
                    .otherwise(F.lit("video"))
                    .alias("kind"),
                    F.lit("").alias("text"),
                    F.concat(
                        F.lit("asset-"),
                        F.col("doc_id").cast("string"),
                        F.lit("-"),
                        i.cast("string"),
                    ).alias("media_ref"),
                    (i * 2 + 1).cast("int").alias("offset"),
                ),
            ),
        ),
        lambda s: s.isNotNull(),
    )
    merged = F.array_sort(
        F.concat(text_spans, media_spans),
        lambda l, r: (
            F.when(l["offset"] < r["offset"], F.lit(-1))
            .when(l["offset"] > r["offset"], F.lit(1))
            .otherwise(F.lit(0))
        ),
    )
    spans = F.transform(
        merged,
        lambda s, i: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
            i.cast("int").alias("offset"),
        ),
    )
    return d.select(F.col("doc_id").cast("string").alias("doc_id"), spans.alias("spans"))


def _q88_interleave_stats(spark, sf_dir):
    """Modality-structure analytics over the interleaved span corpus:
    span/text/media counts, modality transitions, longest text run and
    text chars per doc — pure map-side array folds, ZERO shuffle (the
    signals that route docs to text-only vs multimodal training mixes)."""
    from horus_spark.operators.interleave import interleave_stats

    return interleave_stats(_fanout(_interleaved_docs(spark, sf_dir)))


def _q89_caption_pairs(spark, sf_dir):
    """LAION/MMC4-style caption mining from interleaved spans: each media
    span pairs with its adjacent text span (preceding preferred, else
    following), bounded to [2, 64] caption tokens — map-side array
    expressions + one explode, zero shuffle."""
    from horus_spark.operators.interleave import caption_pairs

    return caption_pairs(
        _fanout(_interleaved_docs(spark, sf_dir)), min_tokens=2, max_tokens=64
    )


def _media_refs(spans: DataFrame) -> DataFrame:
    """Distinct media_refs referenced by an interleaved-span corpus."""
    return (
        spans.select(
            F.explode(
                F.filter(F.col("spans"), lambda s: s["kind"] != F.lit("text"))
            ).alias("s")
        )
        .select(F.col("s.media_ref").alias("asset_id"))
        .distinct()
    )


def _q90_multimodal_dedup(spark, sf_dir):
    """Exact dedup of INTERLEAVED documents: fingerprint = md5 over the
    offset-ordered sequence of normalized text + media CONTENT sha256
    (renamed assets with identical bytes still match). Planted corpus:
    +1000000 clones share text AND media content (multiple of 25
    preserves the blob class, even offset preserves kind parity) ->
    groups of 2; +2000001 clones share text but flip media content ->
    singletons, which text-only dedup would wrongly merge."""
    from horus_spark.operators.interleave import multimodal_dedup

    # base stays un-normalized: the spans frame fans out below and a
    # second repartition of the compact source would only add exchange
    base = _load(spark, sf_dir, "documents").select("doc_id", "text")
    c1 = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    c2 = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000001).alias("doc_id"), "text"
    )
    spans = _interleave_spans_over(base.unionByName(c1).unionByName(c2))
    return multimodal_dedup(_fanout(spans), _synthetic_asset_store(spans))


def _synthetic_asset_store(spans: DataFrame) -> DataFrame:
    """Asset store for an interleaved corpus: payload =
    'blob-<doc%25>-<i>' parsed back from the 'asset-<doc>-<i>' ref, so
    every (doc%25, i) class shares content — the deterministic stand-in
    for real bytes used by q90/q93/q94/q95's oracles."""
    sp = F.split(F.col("asset_id"), "-")
    return _media_refs(spans).select(
        "asset_id",
        F.concat(
            F.lit("blob-"),
            (F.element_at(sp, 2).cast("long") % 25).cast("string"),
            F.lit("-"),
            F.element_at(sp, 3),
        ).alias("payload"),
    )


def _q91_media_integrity(spark, sf_dir):
    """Spans<->assets referential audit: every i=5 media_ref is missing
    from the asset store (dangling), and docs with doc_id%10==0 own an
    extra unreferenced asset (orphan). Two slim anti-joins; payload
    bytes never read."""
    from horus_spark.operators.interleave import media_integrity

    spans = _interleaved_docs(spark, sf_dir)
    sp = F.split(F.col("asset_id"), "-")
    present = _media_refs(spans).filter(F.element_at(sp, 3) != "5")
    orphans = (
        _fanout(_load(spark, sf_dir, "documents"))
        .filter(F.col("doc_id") % 10 == 0)
        .select(
            F.concat(F.lit("asset-orphan-"), F.col("doc_id").cast("string")).alias(
                "asset_id"
            )
        )
        .distinct()
    )
    media = present.unionByName(orphans)
    return media_integrity(_fanout(spans), media)


def _q92_multimodal_packing(spark, sf_dir):
    """Multimodal sequence packing: per-doc token cost = text tokens +
    64 vision tokens per media span (Flamingo/LLaVA constant-block cost
    model), then the q41 shard-parallel next-fit packer bins interleaved
    docs into 512-token training sequences. Cost fold is map-side; only
    (shard, id, n_tokens) crosses the packing exchange."""
    from horus_spark.operators.interleave import interleave_token_costs
    from horus_spark.operators.packing import pack_sequences

    costs = interleave_token_costs(
        _fanout(_interleaved_docs(spark, sf_dir)), media_token_cost=64
    )
    return pack_sequences(costs, "doc_id", "n_tokens", budget=512, n_shards=8)


def _q93_asset_dedup(spark, sf_dir):
    """Content-address the synthetic asset store (payload class =
    'blob-<doc%25>-<i>', so each (doc%25, i) class collapses to one
    canonical asset): per-asset mapping + reclaim pricing. Payloads are
    hashed map-side; only (asset_id, sha, n_bytes) cross the shuffle."""
    from horus_spark.operators.interleave import dedup_assets

    return dedup_assets(_synthetic_asset_store(_interleaved_docs(spark, sf_dir)))


def _q94_ref_rewrite(spark, sf_dir):
    """Repoint every media span at its canonical asset (the q93 mapping)
    and emit the rewritten media spans (doc_id, offset, kind, media_ref)
    — the storage-compaction step that makes duplicate assets deletable.
    Offsets/kinds/texts must survive the rewrite untouched; the oracle
    recomputes the canonical ref AND the interleaved offset formula
    (i + 1 + floor(i/3)) independently."""
    from horus_spark.operators.interleave import dedup_assets, rewrite_media_refs

    spans = _interleaved_docs(spark, sf_dir)
    media = _synthetic_asset_store(spans)
    mapping = dedup_assets(media).select("asset_id", "canonical_id")
    out = rewrite_media_refs(_fanout(spans), mapping)
    return out.select(
        "doc_id",
        F.explode(
            F.filter(F.col("spans"), lambda s: s["kind"] != F.lit("text"))
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.media_ref").alias("media_ref"),
    )


def _q95_multimodal_minhash(spark, sf_dir):
    """NEAR-dup interleaved docs: MinHash-LSH over the per-doc SET of
    span-content tokens (text-chunk digests + media sha256), exact
    Jaccard verify at 0.5. Planted corpus: the +2000001 clones keep the
    text but flip every media payload class — jaccard = |text chunks| /
    (|text chunks| + 2*|media|) ~ 0.6, so the fuzzy tier pairs them
    while q90's position-exact tier (correctly) keeps them apart, and a
    TEXT-ONLY minhash would have called them identical outright. Same
    k=64/16-band family as q21, so the oracle replays the full pipeline
    including LSH recall."""
    from horus_spark.operators.interleave import multimodal_minhash_pairs

    base = _fanout(_load(spark, sf_dir, "documents")).select("doc_id", "text")
    c2 = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000001).alias("doc_id"), "text"
    )
    spans = _interleave_spans_over(base.unionByName(c2))
    return multimodal_minhash_pairs(
        _fanout(spans),
        _synthetic_asset_store(spans),
        k=64,
        bands=16,
        threshold=0.5,
    )


def _q96_modality_mixture(spark, sf_dir):
    """Modality-routed training mixture: interleaved docs classed by
    media-span count (0 / <4 / >=4), token masses in the multimodal
    cost model (text + 64 vision tokens per media span), then the q62
    UniMax temperature allocation (alpha=0.3, 1M-token budget) across
    the classes. Routing rides the map-side cost fold — the only
    shuffle is the |classes|-row aggregation."""
    from horus_spark.operators.interleave import modality_mixture

    return modality_mixture(
        _fanout(_interleaved_docs(spark, sf_dir)),
        media_token_cost=64,
        rich_min_media=4,
        alpha=0.3,
        token_budget=1_000_000,
    )


def _q97_incremental_multimodal(spark, sf_dir):
    """Incremental multimodal dedup of a new ingest batch against a
    persisted corpus index (id, multimodal fingerprint, token-set
    minhash sig) — the corpus spans/payloads are never re-read. The
    batch plants every tier: +1000000 clones of doc%7==0 (text AND
    media content preserved -> exact_existing), a +3000000/+4000000
    pair of doc%11==0 with 'zz '-prefixed text (matches nothing indexed
    but each other -> unique + exact_batch), and +2000001 clones of
    doc%5==0 with every media payload class flipped (text-identical,
    media-different -> near_existing via signature agreement >= 32/64
    at threshold 0.5)."""
    from horus_spark.operators.interleave import (
        build_multimodal_index,
        incremental_multimodal_dedup,
    )

    base = _fanout(_load(spark, sf_dir, "documents")).select("doc_id", "text")
    d = F.col("doc_id")
    zz = F.concat(F.lit("zz "), F.col("text")).alias("text")
    batch_docs = (
        base.filter(d % 5 == 0)
        .select((d + 2000001).alias("doc_id"), "text")
        .unionByName(
            base.filter(d % 7 == 0).select((d + 1000000).alias("doc_id"), "text")
        )
        .unionByName(
            base.filter(d % 11 == 0).select((d + 3000000).alias("doc_id"), zz)
        )
        .unionByName(
            base.filter(d % 11 == 0).select((d + 4000000).alias("doc_id"), zz)
        )
    )
    ex_spans = _interleave_spans_over(base)
    nw_spans = _interleave_spans_over(batch_docs)
    media = _synthetic_asset_store(ex_spans.unionByName(nw_spans))
    index = build_multimodal_index(ex_spans, media)
    return incremental_multimodal_dedup(
        _fanout(nw_spans), media, index, threshold=0.5
    )


def _q98_redact_spans(spark, sf_dir):
    """Structure-preserving PII redaction over interleaved documents
    (q54's planting appended to the text before chunking): text spans
    rewritten with typed placeholders, offsets/media untouched, per-doc
    n_pii summed over text spans. Output = the exploded TEXT spans
    after redaction; the oracle recomputes the chunk redaction, the
    text-span offset formula (i + floor(i/3)) and the count fold."""
    from horus_spark.operators.interleave import redact_spans

    d = F.col("doc_id")
    planted = _fanout(_load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" contact user"), d.cast("string"), F.lit("@example.com now")
                ),
            )
            .when(d % 3 == 1, F.lit(" call +1 555-123-4567 or ping 10.0.0.1"))
            .otherwise(F.lit(" pay 4111 1111 1111 1111 today")),
        ).alias("text"),
    )
    out = redact_spans(_fanout(_interleave_spans_over(planted)))
    return out.select(
        "doc_id",
        "n_pii",
        F.explode(
            F.filter(F.col("spans"), lambda s: s["kind"] == F.lit("text"))
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.text").alias("text"),
        "n_pii",
    )


def _q99_segment_spans(spark, sf_dir):
    """Within-document training-window segmentation of the interleaved
    corpus: spans assigned greedy next-fit to 128-token windows (text
    = whitespace tokens, media = 64 vision tokens), spans never split,
    adjacency preserved. The oracle replays the per-doc next-fit as a
    recursive CTE over the span costs + the offset formulas."""
    from horus_spark.operators.interleave import segment_spans

    return segment_spans(
        _fanout(_interleaved_docs(spark, sf_dir)),
        budget=128,
        media_token_cost=64,
    )


def _q100_multimodal_keep_best(spark, sf_dir):
    """The multimodal curation DECISION: q95's near-dup pairs closed
    into clusters (large-star/small-star), then keep per cluster the
    single highest-text-token copy (ties by min id) — every interleaved
    document gets a keep verdict. Quality = n_text_tokens from the
    multimodal cost fold (prefer the textiest copy of a media-swapped
    clone family)."""
    from horus_spark.operators.components import keep_best_per_cluster
    from horus_spark.operators.interleave import (
        interleave_token_costs,
        multimodal_minhash_pairs,
    )

    base = _fanout(_load(spark, sf_dir, "documents")).select("doc_id", "text")
    c2 = base.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000001).alias("doc_id"), "text"
    )
    spans = _interleave_spans_over(base.unionByName(c2))
    fanned = _fanout(spans)
    pairs = multimodal_minhash_pairs(
        fanned, _synthetic_asset_store(spans), threshold=0.5
    )
    quality = interleave_token_costs(fanned).select("doc_id", "n_text_tokens")
    return keep_best_per_cluster(quality, pairs, "n_text_tokens")


def _q101_dml_roundtrip(spark, sf_dir):
    """The catalog's full DML triad end-to-end on its OWN storage:
    orders is INSERTed as four append_chunk batches (keyed o_orderkey %
    4), MERGEd (every key ≡ 3 mod 10 gets o_totalprice + 1000, plus two
    brand-new rows), then DELETEd (every key ≡ 0 mod 7), and the final
    snapshot is read back. Each step is a copy-on-write CAS snapshot
    commit with serializable validation (sink.py merge_upsert /
    delete_rows / append_chunk); the oracle replays the same algebra as
    one SQL expression over orders — reference semantics: HorusSql.cs's
    transactional per-document delete+insert (HorusSql.cs:210-311)
    generalized to set-oriented DML."""
    import shutil
    import tempfile

    from horus_spark.sources.sink import (
        append_chunk,
        delete_rows,
        merge_upsert,
        read_output,
    )

    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = tempfile.mkdtemp(prefix="horus_q101_")
    try:
        for i in range(4):
            append_chunk(
                out,
                {"orders": o.filter(F.col("o_orderkey") % 4 == i)},
                run_id=f"seed{i}",
            )
        upd = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        ins = spark.createDataFrame(
            [(-1, 1, "X", 1.5), (-2, 2, "X", 2.5)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double",
        )
        merge_upsert(spark, out, "orders", upd.unionByName(ins), ["o_orderkey"])
        delete_rows(
            spark,
            out,
            "orders",
            o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        final = read_output(spark, out, "orders").drop("chunk")
        rows = final.collect()  # materialize before the tempdir vanishes
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )


def _q102_span_langid(spark, sf_dir):
    """Span-level language ID -> per-document language routing over the
    interleaved corpus (the CCNet shape: classify each text RUN, weight
    it by token mass, route the doc by the dominant language — and flag
    genuinely mixed-language docs for their own mixture bucket, which a
    doc-level classifier over concatenated text cannot do). Multilingual
    docs are planted: every text span whose interleaved offset is 3 mod
    5 is rewritten to a German marker sentence, so documents long enough
    to reach offset 3 become mixed-language and the routing flag must
    catch exactly those. Pure map-side nested array expressions
    (transform -> langid filter folds), ZERO shuffle — scan-bound at
    10^12 docs."""
    from horus_spark.operators.interleave import span_languages

    spans = _interleaved_docs(spark, sf_dir)
    planted = spans.withColumn(
        "spans",
        F.transform(
            F.col("spans"),
            lambda s: F.struct(
                s["kind"].alias("kind"),
                F.when(
                    (s["kind"] == F.lit("text")) & (s["offset"] % 5 == 3),
                    F.lit("der die und das ist"),
                )
                .otherwise(s["text"])
                .alias("text"),
                s["media_ref"].alias("media_ref"),
                s["offset"].alias("offset"),
            ),
        ),
    )
    return span_languages(_fanout(planted))


def _q103_profile(spark, sf_dir):
    """ANALYZE-style one-pass column profile of orders (row count, null
    count, exact distinct count, min/max rendered to string) — the
    statistics a lakehouse catalog keeps per column (and the operator
    behind zone-map/footer-stats pruning decisions). One aggregation job:
    the exact tier uses the multi-distinct Expand, the 100-TB tier
    (exact=False) is a single non-expanded HLL pass. Float columns are
    excluded here only because float->string rendering is
    engine-specific (the oracle is DuckDB)."""
    from horus_spark.operators.profile import profile_table

    o = _load(spark, sf_dir, "orders")
    return profile_table(
        o,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
         "o_orderpriority"],
    )


def _html_pages(spark, sf_dir) -> DataFrame:
    """Deterministic crawled-page corpus: each documents row wrapped in
    the synthesize_html template (title + script/style chrome, link-farm
    nav, the text as <p> chunks under div.main with an <h1>, link-heavy
    footer). The q104/q105 oracles replay the same construction in SQL,
    so the planted main content is exact ground truth."""
    from horus_spark.operators.html import synthesize_html

    return synthesize_html(_fanout(_load(spark, sf_dir, "documents")))


def _q104_html_blocks(spark, sf_dir):
    """Flat text-density block screen over raw HTML (the SCAN tier of the
    north rule's boilerplate strip): strip script/style/comment chrome,
    split on block-level tags, per-block text chars / tag count / anchor
    chars, content verdict = long enough AND link density <= 1/3. Pure
    whole-stage-codegen expressions, ZERO shuffle — affordable on every
    crawled page at 10^12 docs. The oracle replays the identical
    algorithm (same regexes) over the identically synthesized pages."""
    from horus_spark.operators.html import html_blocks

    return html_blocks(_html_pages(spark, sf_dir))


def _q105_dom_extract(spark, sf_dir):
    """DOM-tree main-content extraction (Readability/CETD — the north
    rule's named capability): parse each page into a tolerant DOM,
    score text blocks (length+comma points -> parent x2 / grandparent
    x1), discount candidates by subtree link density (integer per-mille),
    emit the winning candidate's blocks in document order with link-farm
    blocks filtered. Arrow-batched kernel, one slim row out per doc.
    The oracle is GROUND TRUTH, not a replay: it reconstructs the
    planted h1+chunk content directly from documents, so a green row
    means the extractor recovered the main content of every synthesized
    page exactly (the span-sequence-equality invariant, newline-joined)."""
    from horus_spark.operators.html import dom_extract

    return dom_extract(_html_pages(spark, sf_dir))


def _linked_pages(spark, sf_dir) -> DataFrame:
    """The q106/q113 crawl graph: synthesized pages on 50 hosts
    (doc_id % 50) with each page's site URL and two injected cross-site
    'related' links appended before </body>."""
    pages = _html_pages(spark, sf_dir)
    did = F.col("doc_id").cast("long")

    def site(expr):
        return F.concat(
            F.lit("https://site-"), expr.cast("string"), F.lit(".test")
        )

    rel = F.concat(
        F.lit('<div class="rel"><p><a href="'),
        site((did * 7 + 1) % 50),
        F.lit("/doc/"),
        F.col("doc_id"),
        F.lit('">Related reading</a> <a href="'),
        site((did * 13 + 2) % 50),
        F.lit('/">Partner site</a></p></div></body></html>'),
    )
    return pages.select(
        "doc_id",
        F.replace(F.col("html"), F.lit("</body></html>"), rel).alias("html"),
        F.concat(site(did % 50), F.lit("/doc/"), F.col("doc_id")).alias(
            "url"
        ),
    )


def _q106_html_links(spark, sf_dir):
    """Outlink extraction over the synthesized crawl corpus — the link
    tier of the north rule's HTML path and the feeder for the
    urls.py/graph.py crawl-graph stack. Each page gets a deterministic
    site URL (50 synthetic hosts by doc_id % 50) and two injected
    cross-site 'related' links; extract_links pulls every anchor in
    document order, resolves hrefs against the page URL (absolute /
    protocol-relative / root-relative / directory-relative), and tags
    the destination host + internal/external. Pure whole-stage-codegen
    expressions, ZERO shuffle. The oracle replays the identical
    construction, regexes and resolution rules in SQL."""
    from horus_spark.operators.html import extract_links

    return extract_links(_linked_pages(spark, sf_dir), base_url_col="url")


def _q113_crawl_frontier(spark, sf_dir):
    """Crawl-frontier construction (operators/frontier.py) — the
    capstone composition of the crawl stack: q106's extracted outlinks
    -> normalize -> per-URL indegree -> anti-join the already-crawled
    seen set (every page's own URL, so each page's self nav link dies
    here) -> robots policy for agent 'horusbot' (every even domain
    disallows /about in its wildcard group; every 3rd domain's
    horusbot group disallows /doc/, killing incoming cross-site doc
    links; every 5th domain's badbot catch-all must NOT apply) ->
    per-host budget of 8 by (indegree DESC, url ASC). The oracle is
    GROUND TRUTH: it synthesizes the known outlink set (5 nav/footer
    URLs + self doc link + 2 injected cross-site links per page)
    directly from documents and replays the unseen/robots/budget rules,
    so green means link extraction, URL resolution+normalization,
    robots evaluation and the budget window all compose correctly.
    Scale shape: indegree agg over slim (url, src) pairs; seen
    anti-join on url; robots rules broadcast; WindowGroupLimit cap."""
    from horus_spark.operators.frontier import frontier_update
    from horus_spark.operators.html import extract_links
    from horus_spark.operators.robots import parse_robots

    pages = _linked_pages(spark, sf_dir)
    outlinks = extract_links(pages, base_url_col="url")
    seen = pages.select("url")
    dl = F.col("doc_id").cast("long")
    domains = (
        _fanout(_load(spark, sf_dir, "documents"))
        .select((dl % 50).alias("k"))
        .distinct()
    )
    kk = F.col("k")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private"),
        F.when(kk % 2 == 0, F.lit("\nDisallow: /about")).otherwise(
            F.lit("")
        ),
        F.when(
            kk % 3 == 0,
            F.lit("\n\nUser-agent: horusbot\nDisallow: /doc/"),
        ).otherwise(F.lit("")),
        F.when(
            kk % 5 == 0,
            F.lit("\n\nUser-agent: badbot\nDisallow: /"),
        ).otherwise(F.lit("")),
    )
    robots = domains.select(
        F.concat(F.lit("site-"), kk.cast("string"), F.lit(".test")).alias(
            "domain"
        ),
        txt.alias("robots_txt"),
    )
    rules = parse_robots(robots, agent="horusbot")
    return frontier_update(outlinks, seen, rules=rules, per_host_budget=8)


def _q107_extraction_eval(spark, sf_dir):
    """Extraction-QA: the FLAT screen's content blocks scored against
    the planted ground truth (h1 + full document text) with per-doc
    token-multiset precision / recall / F1 in integer per-mille
    (evaluate.token_overlap_eval). This audits the cheap tier's known
    failure modes with numbers — short headline/chunk blocks dropped
    (recall < 1000), the footer's plain-text line kept (precision
    < 1000) — exactly the report a curation pipeline needs before
    trusting a screen at 10^12 pages. One token-level shuffle + a tiny
    per-doc rollup; the oracle replays the flat algorithm AND the
    metric arithmetic in SQL."""
    from horus_spark.operators.evaluate import token_overlap_eval
    from horus_spark.operators.html import html_blocks

    pages = _html_pages(spark, sf_dir)
    pred = html_blocks(pages).where(F.col("is_content") == 1).select(
        "doc_id", F.col("block_text").alias("text")
    )
    d = _fanout(_load(spark, sf_dir, "documents"))
    gold = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("Report "),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.trim(F.col("text")),
        ).alias("text"),
    )
    return token_overlap_eval(pred, gold)


def _q109_warc_parse(spark, sf_dir):
    """WARC-archive ingestion front: each page wrapped in a deterministic
    WARC record (WARC headers + HTTP message + payload; every 10th doc a
    'request' record with no HTML, another tenth a 404) and parsed back
    by sources/warc.py's pure-expression core — typed WARC/HTTP fields +
    payload digest. Zero shuffle; at archive scale the reader splits on
    the record delimiter inside Hadoop's line reader, so this is
    scan-parallel with no whole-file materialization. Oracle replays the
    record synthesis AND the header/blank-line-split regexes in SQL."""
    from horus_spark.sources.warc import parse_warc_records

    pages = _html_pages(spark, sf_dir)
    did = F.col("doc_id")
    dl = did.cast("long")
    is_req = dl % 10 == 3
    is_404 = dl % 10 == 7
    uri = F.concat(
        F.lit("https://site-"), (dl % 50).cast("string"),
        F.lit(".test/doc/"), did,
    )
    http_block = F.when(
        is_req,
        F.concat(
            F.lit("GET /doc/"), did,
            F.lit(" HTTP/1.1\r\nHost: site-x.test"),
        ),
    ).otherwise(
        F.concat(
            F.lit("HTTP/1.1 "),
            F.when(is_404, F.lit("404 Not Found")).otherwise(F.lit("200 OK")),
            F.lit("\r\nContent-Type: text/html; charset=utf-8"),
        )
    )
    body = F.when(is_req, F.lit("")).otherwise(F.col("html"))
    rec = F.concat(
        F.lit("WARC-Type: "),
        F.when(is_req, F.lit("request")).otherwise(F.lit("response")),
        F.lit("\r\nWARC-Target-URI: "), uri,
        F.lit("\r\nWARC-Date: 2026-08-"),
        F.lpad((1 + dl % 28).cast("string"), 2, "0"),
        F.lit("T00:00:00Z\r\nContent-Length: "),
        F.length(body).cast("string"),
        F.lit("\r\n\r\n"), http_block, F.lit("\r\n\r\n"), body,
    )
    parsed = parse_warc_records(pages.select(did, rec.alias("record")))
    return parsed.select(
        did.cast("string").alias("doc_id"),
        "warc_type", "target_uri", "warc_date", "http_status",
        "content_type",
        F.md5(F.col("payload")).alias("body_md5"),
        F.length("payload").cast("int").alias("body_chars"),
    )


def _q110_page_metadata(spark, sf_dir):
    """Head-metadata extraction over the crawl corpus: title, meta
    description, canonical URL, og:title — planted per-doc with
    DIFFERENT absence patterns (no description every 3rd doc, no
    canonical every 4th, no og:title every 5th) and with the
    description's attribute order FLIPPED on even docs (content before
    name), so the order-tolerant coalesced extraction is actually
    exercised. Pure map-side regexes, zero shuffle; oracle replays the
    injection and both attribute-order patterns in SQL."""
    from horus_spark.operators.html import page_metadata

    pages = _html_pages(spark, sf_dir)
    dl = F.col("doc_id").cast("long")
    did = F.col("doc_id")
    desc = F.concat(
        F.lit("Synthetic report "), did, F.lit(" summary")
    )
    meta_desc = F.when(dl % 3 == 0, F.lit("")).otherwise(
        F.when(
            dl % 2 == 0,
            F.concat(
                F.lit('<meta content="'), desc,
                F.lit('" name="description"/>'),
            ),
        ).otherwise(
            F.concat(
                F.lit('<meta name="description" content="'), desc,
                F.lit('"/>'),
            )
        )
    )
    canon = F.when(dl % 4 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('<link rel="canonical" href="https://site-'),
            (dl % 50).cast("string"),
            F.lit(".test/doc/"), did, F.lit('"/>'),
        )
    )
    og = F.when(dl % 5 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('<meta property="og:title" content="Report '), did,
            F.lit('"/>'),
        )
    )
    pages = pages.select(
        "doc_id",
        F.replace(
            F.col("html"),
            F.lit("</head>"),
            F.concat(meta_desc, canon, og, F.lit("</head>")),
        ).alias("html"),
    )
    return page_metadata(pages)


def _q114_sitemap_parse(spark, sf_dir):
    """Sitemap-protocol parsing (operators/sitemap.py) — the discovery
    complement to robots (q111) and the frontier (q113): per domain, a
    <urlset> body with one <url> entry per document (loc always —
    whitespace-padded on even docs to exercise the trim; lastmod absent
    every 3rd doc, changefreq cycling daily/weekly/monthly absent every
    5th, priority 0.1-0.9 absent every 4th) plus a <sitemapindex> body
    with two child <sitemap> entries (one carrying lastmod, one not).
    parse_sitemaps emits typed entry rows in document order with
    priority as integer ppm (round(x*1e6) — no float column). Pure
    map-side regexes, zero shuffle; the oracle replays the synthesis
    (string_agg in id order = the sort_array(struct) order) AND the
    entry-split + per-field extraction in SQL."""
    from horus_spark.operators.sitemap import parse_sitemaps

    d = _fanout(_load(spark, sf_dir, "documents"))
    dl = F.col("doc_id").cast("long")
    ks = (dl % 50).cast("string")
    lastmod = F.when(dl % 3 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("<lastmod>2026-07-"),
            F.lpad((dl % 28 + 1).cast("string"), 2, "0"),
            F.lit("</lastmod>"),
        )
    )
    cf = F.when(dl % 5 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("<changefreq>"),
            F.element_at(
                F.array(F.lit("daily"), F.lit("weekly"), F.lit("monthly")),
                (dl % 3 + 1).cast("int"),
            ),
            F.lit("</changefreq>"),
        )
    )
    prio = F.when(dl % 4 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit("<priority>0."),
            (dl % 9 + 1).cast("string"),
            F.lit("</priority>"),
        )
    )
    entry = F.concat(
        F.lit("<url><loc>"),
        F.when(dl % 2 == 0, F.lit(" ")).otherwise(F.lit("")),
        F.lit("https://site-"), ks, F.lit(".test/doc/"), F.col("doc_id"),
        F.lit("</loc>"), lastmod, cf, prio, F.lit("</url>"),
    )
    urlsets = (
        d.select((dl % 50).alias("k"), dl.alias("n"), entry.alias("e"))
        .groupBy("k")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("n", "e"))),
                    lambda s: s["e"],
                ),
            ).alias("body")
        )
        .select(
            F.concat(
                F.lit("site-"), F.col("k").cast("string"), F.lit("-urlset")
            ).alias("src"),
            F.concat(
                F.lit(
                    '<?xml version="1.0"?><urlset xmlns="http://www.'
                    'sitemaps.org/schemas/sitemap/0.9">'
                ),
                F.col("body"),
                F.lit("</urlset>"),
            ).alias("sitemap_xml"),
        )
    )
    kk = F.col("k").cast("string")
    indexes = (
        d.select((dl % 50).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("site-"), kk, F.lit("-index")).alias("src"),
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>https://site-"), kk,
                F.lit(
                    ".test/sitemap-1.xml</loc>"
                    "<lastmod>2026-08-01</lastmod></sitemap>"
                ),
                F.lit("<sitemap><loc>https://site-"), kk,
                F.lit(".test/sitemap-2.xml</loc></sitemap></sitemapindex>"),
            ).alias("sitemap_xml"),
        )
    )
    return parse_sitemaps(urlsets.unionByName(indexes))


def _q121_semantic_decontam(spark, sf_dir):
    """Semantic benchmark decontamination
    (operators/semdedup.py:semantic_decontaminate): every 37th
    embedding stands in for an eval set; every other corpus vector is
    flagged if its cosine to ANY benchmark item reaches 0.35 — the
    paraphrase-robust complement to q47/q50's exact n-gram collision.
    The threshold is calibrated to THIS corpus's geometry (its
    label-cluster embeddings top out near 0.51 pairwise, so 0.35 =
    same-cluster proximity; real text-embedding deployments calibrate
    on a held-out leak set) — both verdict classes fire at every SF
    (11/12/223 contaminated at sf0.001/0.01/0.1). One broadcast join +
    a struct-max argmax agg (map-side combinable, no window over the
    pair set); oracle replays the cosine, the argmax tie-break and the
    threshold in SQL."""
    from horus_spark.operators.semdedup import semantic_decontaminate

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    bench = e.filter(F.col("vec_id") % 37 == 0).select(
        F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec")
    )
    corpus = e.filter(F.col("vec_id") % 37 != 0)
    return semantic_decontaminate(corpus, bench, threshold=0.35)


def _q132_stats_cube(spark, sf_dir):
    """OLAP CUBE over the corpus dimensions: doc counts, exact token
    mass and distinct sources per (lang, source) with all subtotal
    planes (lang-only, source-only, grand total) in ONE pass — Spark's
    cube() lowers to a single Expand + hash agg, the warehouse-native
    rollup shape (no per-plane re-scan). grouping_id disambiguates
    NULL-as-subtotal from NULL-as-value; token mass is an exact long
    so every plane hash-matches DuckDB's CUBE."""
    d = _fanout(_load(spark, sf_dir, "documents"))
    toks = F.size(
        F.filter(
            F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
            lambda w: w != "",
        )
    ).cast("long")
    return (
        d.select("lang", "source", toks.alias("ntok"))
        .cube("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ntok").alias("n_tokens"),
            F.grouping_id("lang", "source").cast("int").alias("gid"),
        )
    )


def _q133_event_transitions(spark, sf_dir):
    """Per-user event-sequence transition mining: each user's events
    ordered by (ts, event_id — a total, deterministic order), adjacent
    (event_type -> next event_type) pairs counted corpus-wide, plus
    each state's top successor (count desc, successor asc). One window
    pass (lag over the user partition, no self-join) + one hash agg —
    the Markov-chain view behind session-flow and funnel analytics."""
    e = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    w2 = Window.partitionBy("from_type").orderBy(
        F.desc("n_transitions"), F.asc("to_type")
    )
    return pairs.withColumn(
        "is_top_successor", (F.row_number().over(w2) == 1).cast("int")
    )


def _q134_cohort_retention(spark, sf_dir):
    """Cohort retention: users bucketed by first-seen day (their
    cohort), activity counted per (cohort_day, activity_day) with the
    day offset — the classic warehouse retention triangle. The
    first-seen day is a per-user min (one agg), joined back (broadcast
    at real scale: the user dimension is small next to the event
    stream); day arithmetic is integer epoch-days so every engine
    agrees."""
    e = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    day = (F.unix_timestamp("ts") / 86400).cast("long")
    ev = e.select("user_id", day.alias("d"))
    first = ev.groupBy("user_id").agg(F.min("d").alias("cohort_d"))
    return (
        ev.join(first, "user_id")
        .groupBy("cohort_d", F.col("d").alias("activity_d"))
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .withColumn(
            "day_offset", (F.col("activity_d") - F.col("cohort_d")).cast("int")
        )
    )


def _q135_mojibake(spark, sf_dir):
    """Encoding-rehab tier (operators/textfix.py:fix_mojibake): three
    deterministic document classes — doc_id%4==1 gets umlauts planted
    (translate a/e/u -> accented) THEN the classic double-encoding
    corruption (UTF-8 bytes re-read as ISO-8859-1), %4==2 gets the same
    umlauts but stays CLEAN (the repair must not touch genuine
    accents), everything else stays ASCII. The conservative repair must
    restore class 1 exactly and leave classes 2+ byte-identical, so the
    GROUND-TRUTH oracle emits the planted (pre-corruption) text's md5
    and restored=TRUE unconditionally — green means every corrupted doc
    round-trips and no clean doc was rewritten. Zero shuffle."""
    from horus_spark.operators.textfix import fix_mojibake_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    cls = F.col("doc_id") % 4
    planted = F.when(
        cls.isin(1, 2),
        F.translate(F.coalesce(F.col("text"), F.lit("")), "aeu", "\u00e4\u00e9\u00fc"),
    ).otherwise(F.coalesce(F.col("text"), F.lit("")))
    wire = F.when(
        cls == 1, F.decode(F.encode(planted, "UTF-8"), "ISO-8859-1")
    ).otherwise(planted)
    base = d.select(
        "doc_id", planted.alias("planted"), wire.alias("text")
    )
    fx = fix_mojibake_expr(F.col("text"))
    return base.select(
        "doc_id",
        fx["was_mojibake"].alias("was_mojibake"),
        fx["n_fixed"].alias("n_fixed"),
        F.md5(fx["text_fixed"]).alias("fixed_md5"),
        (fx["text_fixed"] == F.col("planted")).alias("restored"),
    )


def _q136_incremental_view(spark, sf_dir):
    """Incremental materialized-view maintenance (operators/ivm.py)
    over the snapshot catalog: q131's DML history is replayed (3
    appends -> snapshots 1-3, MERGE -> 4, DELETE -> 5) on an
    integer-cents orders projection, and a per-customer (SUM, COUNT)
    view is advanced snapshot by snapshot by folding each changelog
    delta into the state — never recomputing from the table. The oracle
    recomputes the final view from the DML algebra directly, so green
    means five consecutive delta folds (inserts, a copy-on-write update
    whose carried rows cancel, and deletes that erase whole groups)
    land on exactly the recompute. Chunk-pruned O(changed data) reads
    and the per-snapshot parity loop are pinned by tests/test_ivm.py."""
    import shutil
    import tempfile

    from horus_spark.operators.ivm import maintain_view, view_from_table
    from horus_spark.sources.sink import (
        append_chunk,
        delete_rows,
        list_snapshots,
        merge_upsert,
        read_output,
    )

    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    keys, sums = ["o_custkey"], {"sum_cents": "cents"}
    out = tempfile.mkdtemp(prefix="horus_q136_")
    try:
        for i in range(3):
            append_chunk(
                out,
                {"orders": o.filter(F.col("o_orderkey") % 3 == i)},
                run_id=f"seed{i}",
            )
        upd = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
            "cents", F.col("cents") + F.lit(100000).cast("long")
        )
        ins = spark.createDataFrame(
            [(-1, 1, 150), (-2, 2, 250)],
            "o_orderkey long, o_custkey long, cents long",
        )
        merge_upsert(
            spark, out, "orders", upd.unionByName(ins), ["o_orderkey"]
        )
        delete_rows(
            spark,
            out,
            "orders",
            o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        snaps = list_snapshots(out)
        t1 = read_output(spark, out, "orders", snapshot=snaps[0])
        if "chunk" in t1.columns:
            t1 = t1.drop("chunk")
        state = view_from_table(t1, keys, sums)
        for a, b in zip(snaps, snaps[1:]):
            state = maintain_view(
                spark, out, "orders", keys, sums, state, a, b
            )
        rows = state.collect()  # materialize before the tempdir vanishes
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows, "o_custkey long, sum_cents long, n_rows long"
    )


def _q137_triangles(spark, sf_dir):
    """Exact triangle counting + local clustering coefficient
    (operators/graph.py:triangles) over a deterministic synthetic link
    graph (three edge rules over doc_id mod 101 -> 295 canonical edges,
    16 triangles at every SF). Degree-ordered orientation bounds the
    wedge join at O(m^1.5) — the Suri-Vassilvitskii MapReduce shape —
    and integer-ppm coefficients make every row engine-exact; the
    oracle replays the orientation, wedge closure and ppm division."""
    from horus_spark.operators.graph import triangles

    d = _fanout(_load(spark, sf_dir, "documents"))
    edges = None
    for mul, add in ((3, 1), (7, 2), (1, 1)):
        e = d.select(
            (F.col("doc_id") % 101).alias("src"),
            ((F.col("doc_id") * mul + add) % 101).alias("dst"),
        )
        edges = e if edges is None else edges.unionAll(e)
    return triangles(edges)


def _q138_funnel(spark, sf_dir):
    """Per-user funnel analysis (operators/funnel.py): signup -> view
    -> purchase within a 24 h window of the anchor (first signup),
    matched greedily over the (ts, event_id) total order. One hash
    shuffle (per-user collect) + a zero-shuffle F.aggregate fold; the
    oracle replays the same earliest-match chain as per-step QUALIFY
    joins. All three depth tiers fire at every SF (sf0.01:
    111/29/10)."""
    from horus_spark.operators.funnel import funnel

    e = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    return funnel(
        e, ["signup", "view", "purchase"], window_s=86400
    )


def _q139_prefix_jaccard(spark, sf_dir):
    """Exact all-pairs set-similarity join via prefix filtering
    (operators/ssjoin.py — SSJoin/AllPairs/PPJoin family): the third
    leg of the near-dup stack. Exact like q11's inverted index but
    with NO df-cap recall hole (the prefix-filter principle indexes
    each doc's rarest (1-t) shingles only, so bucket sizes are small by
    construction, not by a recall-losing frequency cap); deterministic
    unlike q21's MinHash. 3-gram shingle sets at J >= 0.5; all
    threshold decisions in exact integer ppm, so the oracle — an
    INDEPENDENT unfiltered all-pairs join — must agree bit-for-bit."""
    from horus_spark.operators.ssjoin import prefix_jaccard_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return prefix_jaccard_pairs(d, threshold_ppm=500_000, n=3)


# q140's dictionary: literal phrases over the generator vocabulary, mixed
# 1/2/3-word lengths so every per-length gram branch exercises; shared
# with the oracle's VALUES list
_GAZETTEER = [
    ("table scan", "PLAN"),
    ("hash join", "PLAN"),
    ("sort merge join", "PLAN"),
    ("window agg", "PLAN"),
    ("spark", "ENGINE"),
    ("stream batch", "ENGINE"),
]


def _q140_gazetteer(spark, sf_dir):
    """Gazetteer phrase matching (operators/gazetteer.py): every
    occurrence of a broadcast dictionary of multi-word phrases, with
    1-based token positions. The corpus side is entirely map-side
    (per-length gram transforms -> explode -> broadcast hash join, zero
    corpus Exchange — pytest asserts the plan); the oracle replays the
    same per-length gram generation and dictionary join in SQL."""
    from horus_spark.operators.gazetteer import gazetteer_match

    d = _fanout(_load(spark, sf_dir, "documents")).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )
    dim = spark.createDataFrame(_GAZETTEER, "phrase string, label string")
    return gazetteer_match(d, dim)


# q141's probe keys: generator-vocabulary words guaranteed hot, one word
# guaranteed absent — shared with the oracle's VALUES list
_CMS_PROBES = ["spark", "join", "window", "table", "never-in-corpus"]
_CMS_D, _CMS_W = 4, 512


def _q141_cms_freq(spark, sf_dir):
    """Count-min-sketch point frequencies (operators/sketches.py:
    cms_sketch/cms_estimate): token occurrences over the whole corpus
    collapse to a d*w-bounded mergeable sketch (map-side cell
    projection, one explode, one hash agg whose output is <=2048 rows
    regardless of corpus size), then probe keys read min-over-rows
    estimates against the BROADCAST sketch. The oracle replays the
    identical md5 hash family cell-by-cell, so green means every
    counter — not just the estimates — is engine-portable."""
    from horus_spark.operators.sketches import cms_estimate, cms_sketch
    from horus_spark.operators.textstats import tokens_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    toks = d.select(
        F.explode(
            F.filter(
                tokens_expr(F.lower(F.coalesce(F.col("text"), F.lit("")))),
                lambda x: x != "",
            )
        ).alias("tok")
    )
    sk = cms_sketch(toks, "tok", d=_CMS_D, w=_CMS_W)
    probes = spark.createDataFrame([(p,) for p in _CMS_PROBES], "key string")
    return cms_estimate(sk, probes, d=_CMS_D, w=_CMS_W)


_CLF_B = 512  # q142's hash width — small enough that collisions occur


def _q142_classifier(spark, sf_dir):
    """fastText-shape hashed linear quality classifier
    (operators/classifier.py): fit NB log-odds over hashed
    unigram+bigram features on the corpus labeled lang='en', then score
    every document map-side (broadcast weight table, integer micro-nat
    sums). Training is one n_buckets-bounded aggregation; scoring's only
    Exchange carries (doc_id, partial-long) pairs. The oracle replays
    the hash family, both smoothing terms, the sentinel rows and the
    per-doc sum bit-for-bit, so green means the full train->apply loop
    is engine-portable."""
    from horus_spark.operators.classifier import (
        classifier_score,
        fit_hashed_classifier,
    )

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        (F.coalesce(F.col("lang"), F.lit("")) == "en").alias("y"),
    )
    model = fit_hashed_classifier(d, "y", n_buckets=_CLF_B)
    return classifier_score(d, model, n_buckets=_CLF_B)


_HDR_QS = [250_000, 500_000, 900_000, 990_000]


def _q143_hdr_quantiles(spark, sf_dir):
    """Mergeable HDR-histogram quantile sketch (operators/sketches.py:
    hdr_sketch/hdr_quantiles): per-source document-length distribution
    collapsed to a ~1k-cell deterministic sketch (map-side integer
    bucketing, one bounded hash agg), then p25/p50/p90/p99 read back as
    bucket-lower-bound floor estimates with relative error <= 2^-k.
    Unlike t-digest/KLL the bucketing is a pure function of the value,
    so the sketch is partitioning-invariant and the oracle replays every
    cell, cumulative rank and inverse-bucket lower bound bit-for-bit."""
    from horus_spark.operators.sketches import hdr_quantiles, hdr_sketch

    d = _fanout(_load(spark, sf_dir, "documents"))
    sk = hdr_sketch(d, "n_chars", ["source"], k=4)
    out = hdr_quantiles(sk, _HDR_QS, ["source"], k=4)
    return out.select("source", "q_ppm", "est", "n")


def _q144_politeness(spark, sf_dir):
    """Crawl politeness scheduling (operators/politeness.py:
    schedule_fetches): a synthetic frontier wave (37 hosts, documents as
    pages, n_chars as indegree priority) is turned into a fetch plan —
    host-sticky md5 workers (map-side), per-host priority sequencing
    (the one host-keyed Exchange), and exact integer fetch offsets
    seq * delay_ms, with a broadcast per-host Crawl-delay table
    (hosts 0 mod 5 -> 2500 ms) falling back to 1000 ms. The oracle
    replays the worker hash, the window order and the offset arithmetic
    row-for-row."""
    from horus_spark.operators.politeness import schedule_fetches

    d = _fanout(_load(spark, sf_dir, "documents"))
    hn = F.col("doc_id") % 37
    fr = d.select(
        F.concat(F.lit("host"), hn.cast("string"), F.lit(".example")).alias(
            "host"
        ),
        F.concat(
            F.lit("https://host"),
            hn.cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.col("n_chars").cast("int").alias("indegree"),
    )
    delays = (
        spark.range(0, 37)
        .filter((F.col("id") % 5) == 0)
        .select(
            F.concat(
                F.lit("host"), F.col("id").cast("string"), F.lit(".example")
            ).alias("host"),
            F.lit(2500).alias("delay_ms"),
        )
    )
    return schedule_fetches(fr, delays, n_workers=8, default_delay_ms=1000)


def _q145_domain_prior(spark, sf_dir):
    """Empirical-Bayes domain quality prior (operators/priors.py:
    shrunk_keep_rate) composed over q142's classifier verdicts: per
    source, the raw keep rate and the Beta-shrunk rate with 25
    pseudo-docs of the corpus mean — all exact integer ppm via
    DECIMAL(38,0) products (HUGEINT in the oracle), so a 10^12-doc
    corpus computes the identical bits. One domain-keyed aggregation
    over the scored frame + one broadcast global scalar; small sources
    provably shrink toward the mean while big ones keep their measured
    rate."""
    from horus_spark.operators.priors import shrunk_keep_rate

    scored = _q142_classifier(spark, sf_dir).select("doc_id", "keep")
    src = _fanout(_load(spark, sf_dir, "documents")).select("doc_id", "source")
    return shrunk_keep_rate(
        scored.join(src, "doc_id"),
        keep_col="keep",
        group_col="source",
        strength=25,
    )


def _q146_span_diff(spark, sf_dir):
    """Span-sequence regression audit (operators/interleave.py:
    span_diff) — the north rule's per-row invariant (span-sequence
    equality of kind/text/media_ref/order) as a distributed operator.
    GROUND-TRUTH oracle: the 'actual' side is the interleaved corpus
    with four planted mutation classes (doc_id mod 11: 3 -> first text
    chunk corrupted, 5 -> first media_ref swapped, 7 -> last span
    dropped, 9/10 -> doc missing from one side), and the oracle derives
    every verdict/first-divergence/field from the mutation rules — so
    green means the digest screen, the prefix scan and the field
    precedence all reproduce the known corruption exactly. Scale shape:
    equal docs (the vast majority) are confirmed by a map-side digest
    and never ship their spans; only divergent ids re-fetch payloads."""
    from horus_spark.operators.interleave import span_diff

    exp_all = _interleaved_docs(spark, sf_dir)
    mod = F.col("doc_id").cast("long") % 11
    spans = F.col("spans")
    n = F.size(spans)
    corrupt_text = F.transform(
        spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            F.when(
                (s["offset"] == 0) & (s["kind"] == "text"),
                F.concat(s["text"], F.lit(" CORRUPTED")),
            )
            .otherwise(s["text"])
            .alias("text"),
            s["media_ref"].alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    swap_ref = F.transform(
        spans,
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            F.when(
                (s["offset"] == 3) & (s["kind"] != "text"),
                F.lit("asset-SWAPPED"),
            )
            .otherwise(s["media_ref"])
            .alias("media_ref"),
            s["offset"].alias("offset"),
        ),
    )
    drop_last = F.filter(spans, lambda s: s["offset"] < n - 1)
    mutated = (
        F.when(mod == 3, corrupt_text)
        .when(mod == 5, swap_ref)
        .when(mod == 7, drop_last)
        .otherwise(spans)
    )
    expected = exp_all.filter(mod != 10)
    actual = exp_all.filter(mod != 9).select(
        "doc_id", mutated.alias("spans")
    )
    return span_diff(_fanout(actual), expected)


def _q147_srp_project(spark, sf_dir):
    """Signed-random-projection JL reduction (operators/similarity.py:
    srp_project): every 64-dim embedding maps to 16 exact integer
    micro-unit coordinates via a +-1 matrix regenerated from md5 parity
    — pure map-side folds inside whole-stage codegen, ZERO shuffle, no
    stored matrix. The oracle rebuilds the identical matrix from the
    same md5 formula and replays every +-1-weighted long sum, so green
    means the whole projection (quantization, matrix, fold) is
    bit-portable. The projected space is the cheap 4x-smaller tier for
    clustering/ANN candidates (magnitudes kept, unlike the 1-bit
    binary_quantize tier)."""
    from horus_spark.operators.similarity import srp_project

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return srp_project(e, in_dim=64, out_dim=16).select(
        F.col("id").alias("vec_id"), "dim", "value"
    )


def _q149_profile_drift(spark, sf_dir):
    """Per-batch stats drift detection (operators/profile.py:
    profile_drift) over two q103-style profiles of orders: the 'new'
    snapshot plants one of each failure class — o_custkey collapsed to
    10 values (upstream constant-fill/fanout bug), o_orderstatus nulled
    for every 5th order (null-rate creep), o_orderpriority dropped,
    o_flag added — while o_orderkey stays byte-stable. The two
    corpus-scale passes are the profiles themselves; the drift compare
    is a bounded column-count join in exact integer ppm. The oracle
    replays both profiles column-by-column AND the verdict arithmetic."""
    from horus_spark.operators.profile import profile_drift, profile_table

    o = _fanout(_load(spark, sf_dir, "orders"), key="o_orderkey")
    old_cols = ["o_orderkey", "o_custkey", "o_orderstatus",
                "o_orderpriority"]
    new = o.select(
        "o_orderkey",
        (F.col("o_custkey") % 10).alias("o_custkey"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        (F.col("o_orderkey") % 2).alias("o_flag"),
    )
    return profile_drift(
        profile_table(o.select(*old_cols)), profile_table(new)
    )


def _q150_outlier_gate(spark, sf_dir):
    """Per-source p99 length-outlier gate (operators/sketches.py:
    quantile_outlier_gate): the q143 sketch's deterministic floor
    quantile becomes a broadcast per-group bound and every document is
    verdicted map-side — reproducible run-to-run (no approxQuantile
    sampling), bounded memory at any corpus size, and the floor
    estimate errs toward KEEPING boundary docs. The oracle replays the
    sketch, the rank read and the verdict join end-to-end."""
    from horus_spark.operators.sketches import quantile_outlier_gate

    d = _fanout(_load(spark, sf_dir, "documents"))
    out = quantile_outlier_gate(
        d, "n_chars", ["source"], q=990_000, k=4
    )
    return out.select("doc_id", "source", "n_chars", "q_est", "outlier")


def _q151_zipf_fit(spark, sf_dir):
    """Zipf power-law slope of the corpus token distribution
    (operators/textstats.py:zipf_fit): one token-count aggregation,
    TakeOrdered top-10k (no global sort), micro-nat least squares with
    DECIMAL(38,0) moment sums and sign-magnitude division — the
    corpus-health number (natural text ~ -1) computed bit-identically
    in both engines. The oracle replays ranks, logs, HUGEINT moments
    and the floor division."""
    from horus_spark.operators.textstats import zipf_fit

    return zipf_fit(_fanout(_load(spark, sf_dir, "documents")), top_k=10_000)


def _q152_rate_anomalies(spark, sf_dir):
    """Event-rate spike detection (operators/anomaly.py:rate_anomalies)
    over the events stream plus a PLANTED burst (every 97th event
    recloned as an 'error' at a fixed hour, 1704258000): gap-filled
    hourly rollup (q68's machinery) -> trailing-24h integer baseline ->
    flag buckets whose count exceeds 3x the trailing mean with an
    absolute floor and a warmup guard. The oracle replays bucketing,
    gap-fill, the trailing window and the DECIMAL/HUGEINT threshold
    product, so green means the whole telemetry health check is
    engine-portable — including that the planted burst (and only
    genuine spikes) fires."""
    from horus_spark.operators.anomaly import rate_anomalies

    ev = _fanout(_load(spark, sf_dir, "events"), key="event_id")
    base = ev.select("ts", "event_type")
    burst = ev.filter(F.col("event_id") % 97 == 0).select(
        F.expr(
            "timestamp_seconds(1704258000 + (event_id % 60) * 60)"
        ).alias("ts"),
        F.lit("error").alias("event_type"),
    )
    return rate_anomalies(
        base.unionByName(burst),
        width_s=3600,
        trailing=24,
        mult_ppm=3_000_000,
        min_count=10,
    )


def _q153_cdc_dedup(spark, sf_dir):
    """Content-defined chunking dedup (operators/cdc.py): every 13th
    document is cloned with an INSERTED PREAMBLE (offsets shifted) —
    fixed-width chunking would share nothing between clone and
    original, but CDC boundaries resynchronize after the edit, so the
    shared passages dedup and the per-doc duplicated-token ppm is
    nonzero exactly where clones exist. Chunking is pure map-side array
    expressions (boundary filter + zip_with segmentation, no quadratic
    scan, no per-doc window); the dedup join ships (digest, id,
    n_tokens) triples only. The oracle replays normalization, every
    boundary hash, the segmentation and the ppm rollup."""
    from horus_spark.operators.cdc import cdc_chunks, cdc_dup_stats

    d = _fanout(_load(spark, sf_dir, "documents")).select("doc_id", "text")
    clones = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.lit("inserted preamble words "), F.col("text")).alias(
            "text"
        ),
    )
    corpus = d.unionByName(clones)
    return cdc_dup_stats(cdc_chunks(corpus, k=3, divisor=8)).select(
        F.col("id").alias("doc_id"),
        "n_chunks",
        "n_dup_chunks",
        "n_tokens",
        "dup_token_ppm",
    )


def _q154_hll_wave_overlap(spark, sf_dir):
    """HLL set algebra over two crawl waves (operators/sketches.py:
    hll_sketch/hll_set_ops — the register-sketch sibling of q129's KMV
    algebra): per host, the q119 wave synthesis's previous and current
    URL sets collapse to 64-register sketches, union comes from the
    EXACT max-merge property, intersection from inclusion-exclusion —
    the waves themselves are never joined, so yesterday's persisted
    O(m) sketch is all a recrawl comparison needs. Hosts exercise both
    the linear-counting and raw-estimate branches. The oracle replays
    registers, merges, both correction branches and the rounded
    inclusion-exclusion arithmetic."""
    from horus_spark.operators.sketches import hll_set_ops, hll_sketch

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    host = F.concat(F.lit("site-"), (n % 50).cast("string"), F.lit(".test"))
    purl = F.concat(
        F.lit("https://site-"), (n % 50).cast("string"),
        F.lit(".test/p/"), ns,
    )
    prev = d.select(host.alias("host"), purl.alias("url"))
    curr = d.where(n % 7 != 0).select(
        host.alias("host"), purl.alias("url")
    ).unionByName(
        d.where(n % 5 == 0).select(
            host.alias("host"),
            F.concat(
                F.lit("https://site-"), (n % 50).cast("string"),
                F.lit(".test/new/"), ns,
            ).alias("url"),
        )
    )
    return hll_set_ops(
        hll_sketch(prev, ["host"], "url", p=6),
        hll_sketch(curr, ["host"], "url", p=6),
        ["host"],
        p=6,
    )


def _q155_sitemap_coverage(spark, sf_dir):
    """Sitemap-vs-crawl coverage audit (operators/sitemap.py:
    sitemap_coverage): the site declares /p/<id> for ids not 2 mod 3;
    the crawler holds /p/<id> for ids not 0 mod 7 plus undeclared
    /extra/<id> for ids 0 mod 11 — so every host has all four
    disjoint classes (both, listed-only, crawled-only and the exact
    ppm ratios) derivable from the modular rules, which is exactly
    what the oracle recomputes. One slim (host, url) full-outer join +
    per-host counters, all integer ppm."""
    from horus_spark.operators.sitemap import sitemap_coverage

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    host = F.concat(F.lit("site-"), (n % 50).cast("string"), F.lit(".test"))
    purl = F.concat(
        F.lit("https://site-"), (n % 50).cast("string"),
        F.lit(".test/p/"), ns,
    )
    listed = d.where(n % 3 != 2).select(host.alias("host"), purl.alias("url"))
    crawled = d.where(n % 7 != 0).select(
        host.alias("host"), purl.alias("url")
    ).unionByName(
        d.where(n % 11 == 0).select(
            host.alias("host"),
            F.concat(
                F.lit("https://site-"), (n % 50).cast("string"),
                F.lit(".test/extra/"), ns,
            ).alias("url"),
        )
    )
    return sitemap_coverage(listed, crawled)


def _q156_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (the multilingual tokenizer
    health metric: how many subwords a word costs, and how many
    characters a subword carries — languages the vocabulary underserves
    show high fertility, the signal behind byte-premium accounting):
    q122's trained BPE merges applied corpus-wide (bpe_segment — driver
    -constant merge list, map-side folds, zero shuffle), word rows
    joined to their doc's lang, exact integer ppm ratios per language.
    The oracle replays training AND segmentation (the _bpe_oracle_sql
    s4 state joined back to per-doc words) plus the ppm arithmetic."""
    from horus_spark.operators.bpe import bpe_segment, bpe_train

    d = _fanout(_load(spark, sf_dir, "documents"))
    merges = bpe_train(d, n_merges=4).orderBy("merge_rank").collect()
    seg = bpe_segment(d, merges)
    j = seg.join(
        d.select(F.col("doc_id").alias("id"), "lang"), "id"
    )
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size("tokens")).cast("long").alias("n_subwords"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
        F.expr(
            "CAST(sum(size(tokens)) * CAST(1000000 AS BIGINT)"
            " div count(1) AS BIGINT)"
        ).alias("subwords_per_word_ppm"),
        F.expr(
            "CAST(sum(length(word)) * CAST(1000000 AS BIGINT)"
            " div sum(size(tokens)) AS BIGINT)"
        ).alias("chars_per_subword_ppm"),
    )


def _q157_robots_audit(spark, sf_dir):
    """Crawl-compliance audit (operators/robots.py:robots_audit).
    GROUND-TRUTH oracle: domains 0 mod 3 publish 'Disallow: /private /
    Allow: /private/ok'; the crawl log holds /p/<id> for every doc,
    /private/x<id> for ids 0 mod 4 (the planted VIOLATIONS on policy
    domains — elsewhere no policy exists so they are legal) and
    /private/ok<id> for ids 0 mod 6 (longest-match Allow must clear
    them). The oracle derives every count from those modular rules
    alone — green means parse_robots + apply_robots longest-match
    evaluation + the ppm rollup reproduce the planted policy exactly."""
    from horus_spark.operators.robots import parse_robots, robots_audit

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    ks = (n % 50).cast("string")
    base = F.concat(F.lit("https://site-"), ks, F.lit(".test"))
    robots = (
        spark.range(0, 50)
        .filter((F.col("id") % 3) == 0)
        .select(
            F.concat(
                F.lit("site-"), F.col("id").cast("string"), F.lit(".test")
            ).alias("domain"),
            F.lit(
                "User-agent: *\nDisallow: /private\nAllow: /private/ok"
            ).alias("robots_txt"),
        )
    )
    crawled = (
        d.select(F.concat(base, F.lit("/p/"), ns).alias("url"))
        .unionByName(
            d.where(n % 4 == 0).select(
                F.concat(base, F.lit("/private/x"), ns).alias("url")
            )
        )
        .unionByName(
            d.where(n % 6 == 0).select(
                F.concat(base, F.lit("/private/ok"), ns).alias("url")
            )
        )
    )
    return robots_audit(crawled, parse_robots(robots))


def _q158_html_tables(spark, sf_dir):
    """HTML table extraction (operators/html.py:extract_tables) —
    GROUND-TRUTH oracle. Pages are synthesized with a planted markup
    grid: every doc with n % 7 != 0 carries a bordered table whose
    header row is <th>key</th><th class="v">value</th> and whose
    2 + n%3 data rows hold ('r'||r, 'v '||(n*7+r)) with formatting
    noise (bold wrap on even rows, a class attribute on every third
    <tr>); docs with n % 5 == 0 add a second header-less table with a
    deliberately EMPTY trailing cell; docs with n % 7 == 0 have no
    table at all. The oracle derives every expected cell row straight
    from those modular rules — green means the three-level regex scan
    (tables -> rows -> cells), the header flag, the markup strip and
    the empty-cell preservation all recover the planted grid exactly."""
    from horus_spark.operators.html import extract_tables

    return extract_tables(_synth_table_pages(spark, sf_dir))


def _synth_table_pages(spark, sf_dir):
    """Shared q158/q177 synthesis: pages with planted markup grids."""
    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    nrows = (F.lit(2) + (n % 3)).cast("int")

    def row_html(r):
        val = F.concat(F.lit("v "), (n * 7 + r).cast("string"))
        cell2 = (
            F.when(
                r % 2 == 0, F.concat(F.lit("<b>"), val, F.lit("</b>"))
            ).otherwise(val)
        )
        attr = (
            F.when(r % 3 == 0, F.lit(' class="odd"')).otherwise(F.lit(""))
        )
        return F.concat(
            F.lit("<tr"), attr, F.lit("><td>r"), r.cast("string"),
            F.lit("</td><td>"), cell2, F.lit("</td></tr>"),
        )

    body = F.concat_ws(
        "", F.transform(F.sequence(F.lit(0), nrows - 1), row_html)
    )
    t0 = F.concat(
        F.lit(
            '<table border="1"><tr><th>key</th><th class="v">value</th>'
            "</tr>"
        ),
        body,
        F.lit("</table>"),
    )
    t1 = F.when(
        n % 5 == 0,
        F.concat(
            F.lit("<table><tr><td>only "), ns,
            F.lit("</td><td></td></tr></table>"),
        ),
    ).otherwise(F.lit(""))
    tables = F.when(n % 7 == 0, F.lit("")).otherwise(F.concat(t0, t1))
    page = F.concat(
        F.lit("<html><body><p>Doc "), ns, F.lit("</p>"), tables,
        F.lit("</body></html>"),
    )
    return d.select("doc_id", page.alias("html"))


def _q177_table_records(spark, sf_dir):
    """Markup-grid -> key-value records
    (operators/html.py:tables_to_records over extract_tables) on the
    q158 planted pages — GROUND-TRUTH oracle: every data cell of the
    headered table becomes ('key', 'rN') / ('value', 'v M') rows; the
    header-less second table contributes nothing. Expected records
    derive from the modular rules alone."""
    from horus_spark.operators.html import extract_tables, tables_to_records

    return tables_to_records(extract_tables(_synth_table_pages(spark, sf_dir)))


def _q159_feed_parse(spark, sf_dir):
    """RSS/Atom feed parsing (operators/feeds.py) — GROUND-TRUTH
    oracle. 50 feeds are synthesized over documents (k = n % 50; even k
    -> RSS 2.0 <item> blocks, odd k -> Atom <entry> blocks, and since
    50 is even the doc parity matches the dialect's). Per entry the
    modular rules plant every field AND its failure mode: title carries
    inline markup every 4th doc (must strip to 'Post n'), the link is
    absent every 6th doc (entry dropped, later positions unshifted),
    guid/id absent every 5th, dates absent every 3rd; Atom links flip
    attribute order by n % 4 AND every surviving atom entry leads with
    a rel="self" decoy link the parser must skip in favor of the
    rel="alternate" one, and Atom dates carry BOTH <published> and
    <updated> except every 7th doc which has only <updated> (the
    fallback must fire). Channel/feed-level <title> and chrome sit
    outside entry blocks as decoys. The oracle recomputes every
    surviving row straight from those rules — green means the
    entry-split, dialect detection, per-field coalescing, markup strip
    and drop-without-reindex semantics are all exact."""
    from horus_spark.operators.feeds import parse_feeds

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    k = n % 50
    ks = k.cast("string")
    url = F.concat(
        F.lit("https://site-"), ks, F.lit(".test/post/"), ns
    )
    title = F.concat(
        F.lit("<title>Post "),
        F.when(
            n % 4 == 0, F.concat(F.lit("<b>"), ns, F.lit("</b>"))
        ).otherwise(ns),
        F.lit("</title>"),
    )
    rss_item = F.concat(
        F.lit("<item>"),
        title,
        F.when(n % 6 == 0, F.lit("")).otherwise(
            F.concat(F.lit("<link>"), url, F.lit("</link>"))
        ),
        F.when(n % 5 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit('<guid isPermaLink="false">tag-'), ns,
                F.lit("</guid>"),
            )
        ),
        F.when(n % 3 == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("<pubDate>2026-07-"),
                F.lpad((n % 28 + 1).cast("string"), 2, "0"),
                F.lit("</pubDate>"),
            )
        ),
        F.lit("</item>"),
    )
    # a rel="self" decoy link sits BEFORE the alternate link in every
    # surviving atom entry: the parser must skip feed chrome and pick
    # the rel="alternate" href (first-link-with-href would grab the
    # decoy)
    atom_link = F.when(n % 6 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('<link rel="self" href="https://cdn-'),
            ks,
            F.lit('.test/feed.xml"/>'),
            F.when(
                n % 4 == 1,
                F.concat(
                    F.lit('<link href="'), url,
                    F.lit('" rel="alternate"/>'),
                ),
            ).otherwise(
                F.concat(
                    F.lit('<link rel="alternate" href="'), url,
                    F.lit('"/>'),
                )
            ),
        )
    )
    atom_dates = F.when(n % 3 == 0, F.lit("")).otherwise(
        F.when(
            n % 7 == 0,
            F.concat(F.lit("<updated>U"), ns, F.lit("</updated>")),
        ).otherwise(
            F.concat(
                F.lit("<published>P"), ns, F.lit("</published>"),
                F.lit("<updated>U"), ns, F.lit("</updated>"),
            )
        )
    )
    atom_entry = F.concat(
        F.lit("<entry>"),
        title,
        atom_link,
        F.when(n % 5 == 0, F.lit("")).otherwise(
            F.concat(F.lit("<id>urn:"), ns, F.lit("</id>"))
        ),
        atom_dates,
        F.lit("</entry>"),
    )
    entry = F.when(k % 2 == 0, rss_item).otherwise(atom_entry)
    feeds = (
        d.select(k.alias("k"), n.alias("n"), entry.alias("e"))
        .groupBy("k")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("n", "e"))),
                    lambda s: s["e"],
                ),
            ).alias("body")
        )
        .select(
            F.concat(F.lit("feed-"), F.col("k").cast("string")).alias(
                "src"
            ),
            F.when(
                F.col("k") % 2 == 0,
                F.concat(
                    F.lit(
                        '<?xml version="1.0"?><rss version="2.0">'
                        "<channel><title>Channel "
                    ),
                    F.col("k").cast("string"),
                    F.lit("</title>"),
                    F.col("body"),
                    F.lit("</channel></rss>"),
                ),
            )
            .otherwise(
                F.concat(
                    F.lit(
                        '<feed xmlns="http://www.w3.org/2005/Atom">'
                        "<title>Feed "
                    ),
                    F.col("k").cast("string"),
                    F.lit("</title>"),
                    F.col("body"),
                    F.lit("</feed>"),
                )
            )
            .alias("feed_xml"),
        )
    )
    return parse_feeds(feeds)


def _q160_maxscore_topk(spark, sf_dir):
    """MaxScore dynamic-pruned BM25 retrieval
    (operators/ranking.py:maxscore_topk): the rarest query term ('dup',
    df≈5% of the corpus) seeds the threshold from its small posting,
    per-term tf-saturation bounds (idf*(k1+1)) prune every doc whose
    optimistic score cannot reach the top-25, and only survivors are
    exactly scored and sorted. The oracle is the EXHAUSTIVE BM25
    scorer (q52's SQL shape with this query) — green means the pruned
    plan returns the bit-identical top-k the full scan would."""
    from horus_spark.operators.ranking import maxscore_topk

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    return maxscore_topk(d, "dup scan merge filter", k=25)


def _q161_bloom_dml(spark, sf_dir):
    """Bloom-sidecar data skipping under the DML triad
    (sink.py:add_bloom_index + _bloom_candidate_chunks): orders is
    INSERTed as four append_chunk batches keyed o_orderkey % 4 — an
    INTERLEAVED layout whose per-chunk [min, max] all span the whole
    key domain, so footer-stats pruning keeps every chunk and only the
    bloom membership tier can skip (the pytest asserts it does). Bloom
    sidecars are built, a MERGE prices up every key ≡ 4 mod 10 (+2000)
    and adds two new rows, sidecars are rebuilt over the rewritten
    chunks, and a DELETE removes every key ≡ 0 mod 9; the final
    snapshot is read back. The oracle replays the same algebra as one
    SQL expression — green means the bloom-pruned probe path commits
    the exact same snapshots the unpruned scan would."""
    import shutil
    import tempfile

    from horus_spark.sources.sink import (
        add_bloom_index,
        append_chunk,
        delete_rows,
        merge_upsert,
        read_output,
    )

    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = tempfile.mkdtemp(prefix="horus_q161_")
    try:
        for i in range(4):
            append_chunk(
                out,
                {"orders": o.filter(F.col("o_orderkey") % 4 == i)},
                run_id=f"seed{i}",
            )
        add_bloom_index(spark, out, "orders", "o_orderkey", n_bits=1 << 16)
        upd = o.filter(F.col("o_orderkey") % 10 == 4).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(2000.0)
        )
        ins = spark.createDataFrame(
            [(-3, 1, "Y", 3.5), (-4, 2, "Y", 4.5)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double",
        )
        merge_upsert(spark, out, "orders", upd.unionByName(ins), ["o_orderkey"])
        add_bloom_index(spark, out, "orders", "o_orderkey", n_bits=1 << 16)
        delete_rows(
            spark,
            out,
            "orders",
            o.filter(F.col("o_orderkey") % 9 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        final = read_output(spark, out, "orders").drop("chunk")
        rows = final.collect()  # materialize before the tempdir vanishes
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )


def _q162_sentences(spark, sf_dir):
    """Sentence segmentation (operators/sentences.py:split_sentences) —
    GROUND-TRUTH oracle. Each document's words are regrouped into known
    sentences of 7 tokens: the first token capitalized (so the NEXT
    boundary fires), a terminator cycling . ! ? by (doc+i) % 3, an
    'i.e. decoy' abbreviation appended every 5th sentence (the dot is
    followed by lowercase — must NOT split) and a '3.14' decimal every
    7th (dot without whitespace — must NOT split). The oracle rebuilds
    the exact expected sentence strings from the construction rules
    alone — green means the boundary heuristic recovers every planted
    boundary and none of the planted traps."""
    from horus_spark.operators.sentences import split_sentences

    return split_sentences(_synth_sentence_corpus(spark, sf_dir))


def _synth_sentence_corpus(spark, sf_dir):
    """Shared q162/q165 synthesis: documents' words regrouped into
    KNOWN sentences (7 tokens, capitalized opener, cycling terminator,
    planted abbreviation/decimal traps)."""
    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ns = F.ceil(F.size(toks) / 7).cast("int")

    def sent(i):
        chunk = F.slice(toks, (i * 7 + 1).cast("int"), 7)
        first = F.element_at(chunk, 1)
        cap = F.concat(
            F.upper(F.substring(first, 1, 1)), F.substring(first, 2, 1 << 20)
        )
        body = F.concat_ws(
            " ", F.concat(F.array(cap), F.slice(chunk, 2, 6))
        )
        body = F.concat(
            body,
            F.when(i % 5 == 0, F.lit(" i.e. decoy")).otherwise(F.lit("")),
            F.when(i % 7 == 3, F.lit(" 3.14")).otherwise(F.lit("")),
        )
        term = F.element_at(
            F.array(F.lit("."), F.lit("!"), F.lit("?")),
            ((n + i) % 3 + 1).cast("int"),
        )
        return F.concat(body, term)

    text2 = F.concat_ws(
        " ", F.transform(F.sequence(F.lit(0), ns - 1), sent)
    )
    return d.select("doc_id", text2.alias("text"))


def _q165_readability(spark, sf_dir):
    """Integer Flesch reading-ease (operators/sentences.py:readability)
    over the q162 synthesized sentence corpus. The oracle rebuilds the
    sentences from the construction rules (GROUND-TRUTH sentence count
    — q162 already pins the splitter string-exactly), re-derives word
    and vowel-group syllable counts per word in SQL, and replays the
    micro/milli integer formula — all divisions on non-negative
    operands, so Spark div and DuckDB // agree bit-for-bit."""
    from horus_spark.operators.sentences import readability

    return readability(_synth_sentence_corpus(spark, sf_dir))


def _q163_page_outline(spark, sf_dir):
    """Heading-outline extraction (operators/html.py:page_outline) —
    GROUND-TRUTH oracle. Every page plants a known heading tree:
    <h1>Report n</h1>, then 2 + n%3 sections whose <h2> flips tag case
    every 3rd and carries attributes every 2nd, with an <h3>Sub i</h3>
    nested under exactly the sections where (n+i) is even; paragraphs
    sit between as non-heading decoys. The oracle recomputes each
    heading's document position (a closed-form prefix count of the
    planted h3s), level, stripped text and outline parent (nearest
    preceding smaller level) straight from the modular rules — green
    means the backreference-pinned heading scan and the array-scan
    parent resolution reproduce the planted tree exactly."""
    from horus_spark.operators.html import page_outline

    return page_outline(_synth_outline_pages(spark, sf_dir))


def _synth_outline_pages(spark, sf_dir):
    """Shared q163/q168 synthesis: pages with a planted heading tree
    (h1 Report, 2 + n%3 h2 sections with case/attr noise, h3 under
    the sections where (n+i) is even, paragraph decoys between)."""
    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    nsec = (F.lit(2) + (n % 3)).cast("int")

    def section(i):
        i_s = i.cast("string")
        open_tag = F.when(
            i % 3 == 2,
            F.when(i % 2 == 1, F.lit('<H2 class="s">')).otherwise(
                F.lit("<H2>")
            ),
        ).otherwise(
            F.when(i % 2 == 1, F.lit('<h2 class="s">')).otherwise(
                F.lit("<h2>")
            )
        )
        close_tag = F.when(i % 3 == 2, F.lit("</H2>")).otherwise(
            F.lit("</h2>")
        )
        h3 = F.when(
            (n + i) % 2 == 0,
            F.concat(F.lit("<h3>Sub "), i_s, F.lit("</h3>")),
        ).otherwise(F.lit(""))
        return F.concat(
            open_tag, F.lit("Section "), i_s, close_tag,
            F.lit("<p>para "), i_s, F.lit("</p>"), h3,
        )

    body = F.concat_ws(
        "", F.transform(F.sequence(F.lit(0), nsec - 1), section)
    )
    page = F.concat(
        F.lit("<html><body><h1>Report "), ns, F.lit("</h1>"), body,
        F.lit("</body></html>"),
    )
    return d.select("doc_id", page.alias("html"))


def _q168_section_chunks(spark, sf_dir):
    """Heading-keyed section chunking
    (operators/html.py:section_chunks) over the q163 planted pages —
    GROUND-TRUTH oracle: splitting at level 2 must yield the preamble
    ('Report n', no heading) plus one section per planted h2 whose
    text is 'para i' with ' Sub i' appended exactly where the h3 was
    planted ((n+i) even). Every expected row derives from the modular
    rules — green means the split boundary, heading pairing, chrome
    strip and text normalization compose exactly."""
    from horus_spark.operators.html import section_chunks

    return section_chunks(_synth_outline_pages(spark, sf_dir))


def _q164_label_propagation(spark, sf_dir):
    """Deterministic synchronous label-propagation communities
    (operators/graph.py:label_propagation) over a planted caveman
    graph: 16 disjoint 13-node groups (node = doc_id % 208), each
    wired as a ring plus +3 chords — dense inside, no edges between.
    Four synchronous rounds with the (max count, min label) rule; the
    oracle replays the identical recursion as a recursive CTE (the
    q66/q123 house pattern) — green means the distributed
    join+count+argmax loop is a bit-exact pure function of the graph,
    independent of partitioning."""
    from horus_spark.operators.graph import label_propagation

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    v = (n % 208).alias("src")
    g = (n % 208) - ((n % 208) % 13)  # group base
    pos = (n % 208) % 13
    ring = (g + (pos + 1) % 13).alias("dst")
    chord = (g + (pos + 3) % 13).alias("dst")
    edges = d.select(v, ring).unionByName(d.select(v, chord))
    return label_propagation(edges, n_iter=4)


def _q166_url_canonicalize(spark, sf_dir):
    """Full URL canonicalization (urls.py:canonicalize_url_expr) —
    GROUND-TRUTH oracle. Synthesized URLs plant every rule's failure
    mode by modulus: mixed-case host (must lowercase, path case
    preserved), the https default ':443' every 4th (must drop) and a
    NON-default ':8080' every 9th (must SURVIVE — port stripping is
    scheme-aware, not blanket 80/443), trailing slash every
    3rd, '#frag' every 6th, 'utm_source' every 2nd, an out-of-order
    'b=2&a=1' pair except every 5th (must sort), and an uppercase
    'PHPSESSID' session param every 7th (case-insensitive tracking
    match). The oracle rebuilds the raw URL identically AND derives
    the canonical form straight from the rules — green means all
    seven rules fire exactly and nothing else is touched."""
    from horus_spark.operators.urls import canonicalize_url_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    ks = (n % 50).cast("string")
    q = F.concat_ws(
        "&",
        F.when(n % 2 == 0, F.lit("utm_source=x")),
        F.when(n % 5 != 0, F.lit("b=2&a=1")),
        F.when(n % 7 == 0, F.lit("PHPSESSID=abc")),
    )
    url = F.concat(
        F.lit("https://SITE-"), ks, F.lit(".Test"),
        F.when(n % 4 == 0, F.lit(":443"))
        .when(n % 9 == 0, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/P/"), ns,
        F.when(n % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        F.when(n % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return d.select(
        "doc_id",
        url.alias("url"),
        canonicalize_url_expr(url).alias("canonical"),
    )


def _q167_span_corruption(spark, sf_dir):
    """T5-style span-corruption mask planning
    (operators/masking.py:span_corruption_plan): hash-derived start
    positions (md5(doc:pos) % 20), uniform [2,5) raw lengths, interval
    union into maximal merged spans — the reproducible denoising plan
    every epoch must agree on. The oracle recomputes the same hash
    positions in SQL and merges via gaps-and-islands windows; interval
    union is representation-independent, so the zero-shuffle array
    fold and the window recursion must agree bit-for-bit."""
    from horus_spark.operators.masking import span_corruption_plan

    d = _fanout(_load(spark, sf_dir, "documents"))
    return span_corruption_plan(d)


def _q169_registered_domain(spark, sf_dir):
    """Registered-domain (public-suffix) extraction
    (urls.py:registered_domain_expr) — GROUND-TRUTH oracle: every 3rd
    doc gets a mixed-case multi-label-suffix host
    ('WWW.sub.site-k.Co.Uk' -> site-k.co.uk, the three-label tier),
    every 11th a single-label intranet host (passthrough), the rest a
    deep subdomain chain under .com ('cdnX.site-k.com' ->
    site-k.com). Expected domains derive from the rules alone."""
    from horus_spark.operators.urls import registered_domain_expr

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ks = (n % 50).cast("string")
    host = (
        F.when(
            n % 3 == 0,
            F.concat(F.lit("WWW.sub.site-"), ks, F.lit(".Co.Uk")),
        )
        .when(n % 11 == 0, F.lit("intranet"))
        .otherwise(
            F.concat(
                F.lit("cdn"), (n % 7).cast("string"), F.lit(".site-"),
                ks, F.lit(".com"),
            )
        )
    )
    return d.select(
        "doc_id",
        host.alias("host"),
        registered_domain_expr(host).alias("domain"),
    )


def _q170_read_lookup(spark, sf_dir):
    """Pruned point-lookup reads over the snapshot catalog
    (sink.py:read_lookup): orders appended as four interleaved chunks
    (o_orderkey % 4 — footer min/max spans the whole domain in every
    chunk), bloom sidecars built, then a 30-key lookup whose keys all
    live in ONE chunk (≡ 2 mod 4). The bloom tier prunes the scan to
    that chunk (pytest asserts the prune); the oracle is the plain SQL
    IN-filter over orders — green means pruning never changes a read's
    answer."""
    import shutil
    import tempfile

    from horus_spark.sources.sink import (
        add_bloom_index,
        append_chunk,
        read_lookup,
    )

    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    keys = [4 * i + 2 for i in range(30)] + [-99]
    out = tempfile.mkdtemp(prefix="horus_q170_")
    try:
        for i in range(4):
            append_chunk(
                out,
                {"orders": o.filter(F.col("o_orderkey") % 4 == i)},
                run_id=f"seed{i}",
            )
        add_bloom_index(spark, out, "orders", "o_orderkey", n_bits=1 << 16)
        got = read_lookup(spark, out, "orders", "o_orderkey", keys).drop(
            "chunk"
        )
        rows = got.collect()  # materialize before the tempdir vanishes
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )


def _q171_ul2_plan(spark, sf_dir):
    """UL2 mixture-of-denoisers planning
    (operators/masking.py:ul2_denoiser_plan): docs hash-routed to
    R/S/X denoiser classes (md5(doc) % 3), each with its class's
    deterministic mask plan — R = the q167 T5 spans, S = the PrefixLM
    tail quarter as one closed-form span, X = long-span heavy
    corruption (rate 10, spans [8,16)). The oracle replays all three
    parameterizations of the q167 hash+islands machinery plus the S
    arithmetic and unions them."""
    from horus_spark.operators.masking import ul2_denoiser_plan

    d = _fanout(_load(spark, sf_dir, "documents"))
    return ul2_denoiser_plan(d)


def _q172_sentence_windows(spark, sf_dir):
    """Sentence-boundary RAG windowing
    (operators/sentences.py:sentence_windows) over the q162 synthesized
    sentence corpus: greedy next-fit packing of consecutive sentences
    into 20-token windows, sentences never split, oversized sentences
    alone. The oracle rebuilds the ground-truth sentences and replays
    the next-fit as a recursive CTE (q92/q99 house pattern) including
    the concatenated window text — the zero-shuffle array fold is
    pinned bit-exactly."""
    from horus_spark.operators.sentences import sentence_windows

    return sentence_windows(_synth_sentence_corpus(spark, sf_dir), budget=20)


def _q173_pairwise_moments(spark, sf_dir):
    """Exact pairwise co-moments (operators/profile.py:
    pairwise_moments) over lineitem's four numeric measures: cents-
    snapped integer moment sums in DECIMAL(38,0)/HUGEINT — the
    extended-ANALYZE tier correlation/covariance derive from, with the
    irrational sqrt kept OUT of the engine-parity surface. ONE
    aggregation, six exact aggregates per pair, map-side combine."""
    from horus_spark.operators.profile import pairwise_moments

    li = _fanout(_load(spark, sf_dir, "lineitem"), key="l_orderkey")
    m = pairwise_moments(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    # DECIMAL(38,0) exceeds int64 at scale; ship the exact integers as
    # strings so the harness compares digits, not lossy floats
    dec = ["sum_a", "sum_b", "sum_aa", "sum_bb", "sum_ab"]
    return m.select(
        "col_a", "col_b", "n", *[F.col(c).cast("string").alias(c) for c in dec]
    )


def _q174_percentile_normalize(spark, sf_dir):
    """Per-source percentile normalization of a quality score
    (operators/priors.py:percentile_normalize): n_chars calibrated
    within each source via deterministic row_number percentiles
    ((rank-1)*1e6 div (n-1), (score, id) tie-break) — the step that
    makes per-domain cut thresholds comparable. Oracle replays the
    identical window arithmetic in SQL."""
    from horus_spark.operators.priors import percentile_normalize

    d = _fanout(_load(spark, sf_dir, "documents"))
    return percentile_normalize(d, "n_chars", "source")


def _q175_sitemap_directives(spark, sf_dir):
    """Robots `Sitemap:` directive extraction
    (operators/robots.py:sitemap_urls) — GROUND-TRUTH oracle: domain k
    declares 1 + k%3 sitemaps, directive case flipping on odd
    positions ('SITEMAP:') and tolerant whitespace on position 1, with
    Disallow/Crawl-delay decoy lines around them. Expected rows derive
    from the modular rules alone."""
    from horus_spark.operators.robots import sitemap_urls

    robots = (
        spark.range(0, 50)
        .select(
            F.concat(
                F.lit("site-"), F.col("id").cast("string"), F.lit(".test")
            ).alias("domain"),
            F.concat(
                F.lit("User-agent: *\nDisallow: /private\n"),
                F.concat_ws(
                    "\n",
                    F.transform(
                        F.sequence(
                            F.lit(0), (F.col("id") % 3).cast("int")
                        ),
                        lambda j: F.concat(
                            # j==1 must come FIRST or the odd-j branch
                            # shadows it and the tolerant-whitespace
                            # variant is never generated (review find)
                            F.when(j == 1, F.lit("sitemap:  "))
                            .when(j % 2 == 1, F.lit("SITEMAP: "))
                            .otherwise(F.lit("Sitemap: ")),
                            F.lit("https://site-"),
                            F.col("id").cast("string"),
                            F.lit(".test/sitemap-"),
                            j.cast("string"),
                            F.lit(".xml"),
                        ),
                    ),
                ),
                F.lit("\nCrawl-delay: 5"),
            ).alias("robots_txt"),
        )
    )
    return sitemap_urls(robots)


def _q176_citation_stats(spark, sf_dir):
    """Citation-marker density (operators/textstats.py:citation_stats)
    — GROUND-TRUTH oracle: documents get a planted citation tail by
    modulus (one '[12]' every 2nd doc, two more brackets every 3rd, a
    '(2020)' every 4th, an 'et al.' every 5th) plus decoys that must
    NOT fire ('[notanum]' every 7th, a non-year '(123)' every 6th).
    Marker counts derive from the rules; the token denominator replays
    the construction."""
    from horus_spark.operators.textstats import citation_stats

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    tail = F.concat(
        F.when(n % 2 == 0, F.lit(" as shown [12]")).otherwise(F.lit("")),
        F.when(n % 3 == 0, F.lit(" see [7] and [345]")).otherwise(
            F.lit("")
        ),
        F.when(n % 4 == 0, F.lit(" reported earlier (2020)")).otherwise(
            F.lit("")
        ),
        F.when(n % 5 == 0, F.lit(" per Smith et al. review")).otherwise(
            F.lit("")
        ),
        F.when(n % 6 == 0, F.lit(" item (123)")).otherwise(F.lit("")),
        F.when(n % 7 == 0, F.lit(" tag [notanum]")).otherwise(F.lit("")),
    )
    pages = d.select(
        "doc_id", F.concat(F.col("text"), tail).alias("text")
    )
    return citation_stats(pages)


def _q178_bitext_mining(spark, sf_dir):
    """Margin-based bitext mining (operators/bitext.py:
    margin_bitext_pairs, the Artetxe-Schwenk/LASER ratio margin in
    exact integer micro-cosine arithmetic): embeddings split by label
    parity stand in for the two language sides; mutual-best pairs with
    margin_ppm >= 1.02e6 are mined (119 pairs at sf0.001). The oracle
    replays cosine, both kNN background sums, mutuality and the
    integer margin in SQL — all divisions on positive operands."""
    from horus_spark.operators.bitext import margin_bitext_pairs

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    return margin_bitext_pairs(
        e.where(F.col("label") % 2 == 0),
        e.where(F.col("label") % 2 == 1),
        k=4,
        threshold_ppm=1_020_000,
    )


def _q179_snippets(spark, sf_dir):
    """KWIC snippet extraction (operators/ranking.py:best_snippet):
    for every document matching the q160 query terms, the 8-token
    window with the most matches (earliest on ties), quoting the
    ORIGINAL text while matching normalized terms. The oracle replays
    match positions, per-candidate counts, the (count DESC, start ASC)
    argmax and the original-token slice in SQL."""
    from horus_spark.operators.ranking import best_snippet

    d = _fanout(_load(spark, sf_dir, "documents"))
    return best_snippet(d, "dup scan merge filter", width=8)


def _q180_alias_resolution(spark, sf_dir):
    """Canonical-alias resolution (operators/redirects.py:
    resolve_aliases): HTTP redirects (n%3==0: p(n) -> p(n+1)) merged
    with rel=canonical annotations (n%5==0: p(n) -> the decade head
    p(10*(n div 10)); self-canonical decade heads dropped) — where
    both exist (n%15==0) the REDIRECT must win. The merged map
    pointer-doubles to final representatives; the oracle rebuilds the
    merged edges from the precedence rules and replays the walk as a
    recursive CTE (the q117 pattern)."""
    from horus_spark.operators.redirects import resolve_aliases

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")

    def p(expr):
        return F.concat(F.lit("https://x.test/p/"), expr.cast("string"))

    redirects = d.where(n % 3 == 0).select(
        p(n).alias("src_url"), p(n + 1).alias("dst_url")
    )
    canonicals = d.where(n % 5 == 0).select(
        p(n).alias("src_url"), p(n - n % 10).alias("dst_url")
    )
    urls = d.select(p(n).alias("url"))
    return resolve_aliases(urls, redirects, canonicals, max_hops=8)


def _q181_curriculum(spark, sf_dir):
    """Curriculum training order (operators/indexing.py:
    curriculum_order): per-source n_chars percentiles (q174) band docs
    into 4 stages; the epoch order is (stage ASC, per-epoch md5
    shuffle, id). The oracle replays the percentile window, the stage
    arithmetic and the global row_number over the composite key."""
    from horus_spark.operators.indexing import curriculum_order

    d = _fanout(_load(spark, sf_dir, "documents"))
    return curriculum_order(d, "n_chars", "source", n_stages=4, epoch=1)


def _q182_rare_combinations(spark, sf_dir):
    """k-anonymity quasi-identifier audit (operators/pii.py:
    rare_combinations) over (lang, source, 500-char length bucket):
    combinations carried by fewer than 5 docs are re-identification
    risks. Oracle = the identical grouped count + threshold in SQL."""
    from horus_spark.operators.pii import rare_combinations

    d = _fanout(_load(spark, sf_dir, "documents"))
    quasi = d.select(
        "lang",
        "source",
        F.expr(
            "CAST(n_chars div CAST(500 AS BIGINT) AS BIGINT)"
        ).alias("len_bucket"),
    )
    return rare_combinations(quasi, ["lang", "source", "len_bucket"], k=5)


def _q183_dedup_recall(spark, sf_dir):
    """Dedup-recall audit with planted mutation tiers: every 13th doc
    gets two clones — m1 drops every 10th token (~30% of shingles
    perturbed), m2 drops every 4th (most shingles perturbed) — and the
    q21 MinHash-LSH pipeline (16x4 banding, exact-Jaccard verify at
    0.3) runs over the augmented corpus. The report is per-tier
    recall in ppm: m1 lands where banding theory puts a ~0.55-Jaccard
    pair; m2 falls below the verify threshold and reads ~0 — the
    measured recall cliff a dedup operator ships with, not a guess.
    Deterministic end to end (fixed hash family), and the oracle
    replays corpus augmentation AND the full pipeline in SQL."""
    from horus_spark.operators.dedup import minhash_dedup_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    ).select("doc_id", "text")
    # try_cast: Catalyst infers this filter across the planted->pairs
    # equi-join onto rows whose ids carry the m1-/m2- prefixes, and a
    # plain cast would throw under ANSI there
    n = F.expr("try_cast(doc_id AS BIGINT)")
    toks = F.split(F.trim(F.col("text")), r"\s+")

    def mutate(prefix, keep_mod):
        return d.where(n % 13 == 0).select(
            F.concat(F.lit(prefix), F.col("doc_id")).alias("doc_id"),
            F.concat_ws(
                " ",
                F.filter(toks, lambda t, i: (i + 1) % keep_mod != 0),
            ).alias("text"),
        )

    aug = d.unionByName(mutate("m1-", 10)).unionByName(mutate("m2-", 4))
    pairs = minhash_dedup_pairs(aug, n=3, k=64, bands=16, threshold=0.3)
    planted = (
        d.where(n % 13 == 0)
        .select(F.col("doc_id").alias("orig"))
        .select(
            "orig",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(1).alias("level"),
                        F.concat(F.lit("m1-"), F.col("orig")).alias(
                            "clone"
                        ),
                    ),
                    F.struct(
                        F.lit(2).alias("level"),
                        F.concat(F.lit("m2-"), F.col("orig")).alias(
                            "clone"
                        ),
                    ),
                )
            ).alias("p"),
        )
        .select("orig", F.col("p.level").alias("level"), F.col("p.clone").alias("clone"))
    )
    hit = planted.join(
        pairs.select(
            F.col("id_a").alias("orig"), F.col("id_b").alias("clone")
        ),
        ["orig", "clone"],
        "left_semi",
    ).groupBy("level").agg(F.count(F.lit(1)).alias("n_found"))
    tot = planted.groupBy("level").agg(F.count(F.lit(1)).alias("n_planted"))
    return (
        tot.join(hit, "level", "left")
        .select(
            "level",
            F.col("n_planted").cast("long").alias("n_planted"),
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            F.expr(
                "CAST(coalesce(n_found, 0) * CAST(1000000 AS BIGINT)"
                " div n_planted AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


def _q184_ann_recall(spark, sf_dir):
    """ANN recall audit (the q183 theme on the vector side): IVF top-10
    (q25's exact configuration — 16 lowest-id cells, 4 probes) scored
    against the EXACT brute-force top-10 as truth, per query, in
    integer ppm. Cell pruning is lossy by design; this measures the
    loss instead of guessing it. The oracle composes the q17 and q25
    replays and the same recall join."""
    from horus_spark.operators.similarity import brute_force_topk, ivf_topk

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    brute = brute_force_topk(e, q, k=10).select(
        "q_id", "neighbor_id"
    )
    ivf = ivf_topk(
        e, q, n_centroids=16, n_probe=4, k=10, centroids="lowest_id"
    ).select(F.col("q_id").alias("iq"), F.col("neighbor_id").alias("inb"))
    hit = brute.join(
        ivf,
        (F.col("q_id") == F.col("iq")) & (F.col("neighbor_id") == F.col("inb")),
        "left",
    )
    return hit.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth"),
        F.sum(F.col("inb").isNotNull().cast("long")).alias("n_matched"),
    ).select(
        "q_id",
        "n_truth",
        "n_matched",
        F.expr(
            "CAST(n_matched * CAST(1000000 AS BIGINT) div n_truth"
            " AS BIGINT)"
        ).alias("recall_ppm"),
    )


def _q185_class_labels(spark, sf_dir):
    """c-TF-IDF class labeling (operators/labeling.py:
    class_tfidf_labels, the BERTopic naming step) over the documents'
    source classes: top-8 DISTINCTIVE terms per source by exact
    (tf_ppm x micro-nat idf) score. The oracle replays counting,
    df, the micro-nat snap and the top-k window in SQL."""
    from horus_spark.operators.labeling import class_tfidf_labels

    d = _fanout(_load(spark, sf_dir, "documents"))
    return class_tfidf_labels(d, "source", k=8)


def _q186_jsonld(spark, sf_dir):
    """JSON-LD structured-data extraction (operators/html.py:
    extract_jsonld) — GROUND-TRUTH oracle: every page plants a
    NewsArticle block (headline always; datePublished absent every
    3rd; author an OBJECT with .name on even docs, a BARE STRING on
    most odd docs, and on n%10==5 an object WITHOUT .name whose raw
    JSON text must NOT leak through the bare-string fallback — all
    three author paths fire), every 4th adds an Organization
    block (name via the $.name fallback), every 9th appends a
    MALFORMED block that must surface as an all-NULL row at its
    position, and a non-LD <script> decoy never matches. Expected rows
    derive from the modular rules alone."""
    from horus_spark.operators.html import extract_jsonld

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    ks = (n % 5).cast("string")
    author = F.when(
        n % 2 == 0,
        F.concat(F.lit('"author":{"name":"Reporter '), ks, F.lit('"}')),
    ).when(
        # object WITHOUT .name: the bare-string fallback must NOT leak
        # the raw JSON object text — author_name stays NULL
        n % 10 == 5,
        F.lit('"author":{"@type":"Person","url":"https://x.test"}'),
    ).otherwise(F.concat(F.lit('"author":"Desk '), ks, F.lit('"')))
    date = F.when(n % 3 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit('"datePublished":"2026-07-'),
            F.lpad((n % 28 + 1).cast("string"), 2, "0"),
            F.lit('",'),
        )
    )
    art = F.concat(
        F.lit(
            '<script type="application/ld+json">'
            '{"@type":"NewsArticle","headline":"Story '
        ),
        ns,
        F.lit('",'),
        date,
        author,
        F.lit("}</script>"),
    )
    org = F.when(
        n % 4 == 0,
        F.concat(
            F.lit(
                "<script type='application/ld+json'>"
                '{"@type":"Organization","name":"Org '
            ),
            ns,
            F.lit('"}</script>'),
        ),
    ).otherwise(F.lit(""))
    bad = F.when(
        n % 9 == 0,
        F.lit('<script type="application/ld+json">{oops</script>'),
    ).otherwise(F.lit(""))
    page = F.concat(
        F.lit("<html><head><script>var decoy = 1;</script>"),
        art, org, bad,
        F.lit("</head><body><p>Doc "), ns, F.lit("</p></body></html>"),
    )
    return extract_jsonld(d.select("doc_id", page.alias("html")))


def _q187_microdata(spark, sf_dir):
    """Microdata extraction (operators/html.py:extract_microdata) —
    GROUND-TRUTH oracle: every page plants a datePublished meta, every
    2nd a link[itemprop=url] (href value path), every 3rd a FLIPPED
    attribute-order meta (content before itemprop — must still pair),
    and every doc with n%4 != 0 an inline <span itemprop=author> whose
    inner markup must strip. Expected (channel, pos, prop, value) rows
    derive from the modular rules."""
    from horus_spark.operators.html import extract_microdata

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    ks = (n % 50).cast("string")
    parts = F.concat(
        F.lit('<meta itemprop="datePublished" content="2026-07-'),
        F.lpad((n % 28 + 1).cast("string"), 2, "0"),
        F.lit('">'),
        F.when(
            n % 2 == 0,
            F.concat(
                F.lit("<link itemprop='url' href='https://site-"), ks,
                F.lit(".test/p/"), ns, F.lit("'>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            n % 3 == 0,
            F.concat(
                F.lit('<meta content="v '), ns,
                F.lit('" itemprop="score">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            n % 4 != 0,
            F.concat(
                F.lit('<span itemprop="author">Writer <b>'), ks,
                F.lit("</b></span>"),
            ),
        ).otherwise(F.lit("")),
    )
    page = F.concat(
        F.lit("<html><head>"), parts,
        F.lit("</head><body><p>x</p></body></html>"),
    )
    return extract_microdata(d.select("doc_id", page.alias("html")))


def _q188_hreflang(spark, sf_dir):
    """hreflang alternate extraction (operators/html.py:
    extract_hreflang) — GROUND-TRUTH oracle: doc n declares 1 + n%3
    language alternates (de, fr, ja prefix) in order; a rel=stylesheet
    link and a rel=alternate WITHOUT hreflang sit between them as
    decoys that must not match."""
    from horus_spark.operators.html import extract_hreflang

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    ks = (n % 50).cast("string")
    langs = F.array(F.lit("de"), F.lit("fr"), F.lit("ja"))

    def link(j):
        lang = F.element_at(langs, (j + 1).cast("int"))
        return F.concat(
            F.lit('<link rel="alternate" hreflang="'), lang,
            F.lit('" href="https://site-'), ks, F.lit(".test/"), lang,
            F.lit("/"), ns, F.lit('">'),
        )

    body = F.concat_ws(
        "",
        F.transform(F.sequence(F.lit(0), (n % 3).cast("int")), link),
    )
    page = F.concat(
        F.lit(
            '<html><head><link rel="stylesheet" href="/s.css">'
            '<link rel="alternate" type="application/rss+xml" '
            'href="/feed.xml">'
        ),
        body,
        F.lit("</head><body/></html>"),
    )
    return extract_hreflang(d.select("doc_id", page.alias("html")))


def _q189_metadata_agreement(spark, sf_dir):
    """Cross-channel metadata consistency (operators/html.py:
    metadata_agreement over page_metadata + extract_jsonld) —
    GROUND-TRUTH oracle: title absent every 7th doc, JSON-LD absent
    every 5th, the LD headline deliberately DIFFERENT every 6th; the
    five verdict classes (agree / disagree / meta_only / ld_only /
    neither at n%35==0) all fire and derive from the rules."""
    from horus_spark.operators.html import (
        extract_jsonld,
        metadata_agreement,
        page_metadata,
    )

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    title = F.when(n % 7 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<title>Page "), ns, F.lit("</title>"))
    )
    ld = F.when(n % 5 == 0, F.lit("")).otherwise(
        F.concat(
            F.lit(
                '<script type="application/ld+json">'
                '{"@type":"WebPage","headline":"'
            ),
            F.when(n % 6 == 0, F.lit("Other ")).otherwise(F.lit("Page ")),
            ns,
            F.lit('"}</script>'),
        )
    )
    page = F.concat(
        F.lit("<html><head>"), title, ld,
        F.lit("</head><body><p>x</p></body></html>"),
    )
    # both channels keyed as STRING ids (page_metadata casts; jsonld
    # passes through) so the full-outer join never coerces
    pages = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        page.alias("html"),
    )
    return metadata_agreement(page_metadata(pages), extract_jsonld(pages))


def _q190_trustrank(spark, sf_dir):
    """TrustRank spam demotion (operators/graph.py:trustrank) over the
    q66 link graph with nodes ≡ 0 mod 10 as the vetted seed set:
    teleport and dangling mass land on seeds only, so trust decays
    with link distance from the seeds and unreachable nodes hold
    exactly 0. Exact integer arithmetic end to end; the oracle replays
    the personalized recursion as a recursive CTE (q66's pattern with
    the seed-conditional jump)."""
    from horus_spark.operators.graph import trustrank

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    src = (n % 211).alias("src")
    e1 = d.select(src, ((n * 31 + 7) % 211).alias("dst"))
    e2 = d.select(src, ((n * 17 + 3) % 211).alias("dst"))
    edges = e1.unionByName(e2).where(F.col("src") % 23 != 0)
    seeds = (
        spark.range(0, 211)
        .where(F.col("id") % 10 == 0)
        .select(F.col("id").alias("node"))
    )
    return trustrank(edges, seeds, n_iter=6)


def _q191_bitext_ivf(spark, sf_dir):
    """Bitext mining at the SCALE tier (operators/bitext.py:
    ivf_bitext_candidates -> margin_bitext_pairs(candidates=...)):
    q178's sides and margin arithmetic, but candidate pairs come from
    shuffle-free IVF cell assignment (8 lowest-id target centroids —
    the SQL-parity stand-in — targets in their argmax cell, sources
    probing their top-2 cells) and the margin/mutuality/background run
    over the candidates ONLY; no crossJoin appears in the plan (pytest
    pins that). The oracle replays candidate generation AND the margin
    recipe in SQL, so green means the composed tier — the only
    affordable shape at 100 TB — is bit-exact, not just 'similar to
    q178'."""
    from horus_spark.operators.bitext import (
        ivf_bitext_candidates,
        margin_bitext_pairs,
    )

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    src = e.where(F.col("label") % 2 == 0)
    tgt = e.where(F.col("label") % 2 == 1)
    cand = ivf_bitext_candidates(
        src, tgt, n_centroids=8, n_probe=2, centroids="lowest_id"
    )
    return margin_bitext_pairs(
        src, tgt, k=4, threshold_ppm=1_020_000, candidates=cand
    )


def _q192_image_decode(spark, sf_dir):
    """REAL image decoding (operators/imaging.py via
    multimodal.extract_image_features) — GROUND-TRUTH oracle. Each doc
    synthesizes a binary P6 PPM payload ENTIRELY IN SPARK EXPRESSIONS
    (header hex + repeat'ed constant-color pixel hex -> unhex): width
    2+n%6, height 1+n%4, color (n%256, (3n+7)%256, (5n+11)%256). The
    mapInPandas kernel parses the actual bytes back; channel means of
    a constant-color image are exact integers and luma_mean is the
    double expression 0.299*r+0.587*g+0.114*b, so DuckDB replays every
    feature from the modular rules alone. Every 9th doc carries a JPEG
    magic (typed 'unsupported:jpeg' error row), every 13th a PPM whose
    raster is one pixel short ('malformed:...'), pinning the error
    channel's exact strings. Green means header parse, raster layout,
    feature arithmetic AND the error taxonomy are exact — pixels, not
    hash arithmetic (the round-4 'weak' finding)."""
    from horus_spark.operators.multimodal import extract_image_features

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    base = d.select(
        F.concat(F.lit("asset-"), F.col("doc_id").cast("string")).alias(
            "asset_id"
        ),
        F.col("doc_id").cast("string").alias("doc_id"),
        (n % 6 + 2).cast("int").alias("w"),
        (n % 4 + 1).cast("int").alias("h"),
        (n % 256).alias("r"),
        ((n * 3 + 7) % 256).alias("g"),
        ((n * 5 + 11) % 256).alias("b"),
        (n % 9 == 0).alias("is_jpeg"),
        ((n % 13 == 0) & (n % 9 != 0)).alias("is_trunc"),
    )
    px_hex = F.concat(
        F.lpad(F.hex(F.col("r")), 2, "0"),
        F.lpad(F.hex(F.col("g")), 2, "0"),
        F.lpad(F.hex(F.col("b")), 2, "0"),
    )
    header_hex = F.hex(
        F.concat(
            F.lit("P6\n"),
            F.col("w").cast("string"),
            F.lit(" "),
            F.col("h").cast("string"),
            F.lit("\n255\n"),
        ).cast("binary")
    )
    staged = base.withColumn("pxh", px_hex).withColumn("hdr", header_hex)
    payload = (
        F.when(F.col("is_jpeg"), F.unhex(F.lit("ffd8ffe000104a46")))
        .when(
            F.col("is_trunc"),
            F.unhex(
                F.concat(
                    F.col("hdr"),
                    F.expr("repeat(pxh, w * h - 1)"),
                )
            ),
        )
        .otherwise(
            F.unhex(F.concat(F.col("hdr"), F.expr("repeat(pxh, w * h)")))
        )
    )
    media = staged.select("asset_id", "doc_id", payload.alias("payload"))
    feats = extract_image_features(media)
    return feats.select(
        "doc_id",
        "format",
        "width",
        "height",
        "channels",
        F.round(F.element_at("features", 4), 6).alias("mean_r"),
        F.round(F.element_at("features", 5), 6).alias("mean_g"),
        F.round(F.element_at("features", 6), 6).alias("mean_b"),
        F.round(F.element_at("features", 7), 6).alias("luma_mean"),
        F.round(F.element_at("features", 8), 6).alias("luma_std"),
        "error",
    )


def _q193_trained_extraction(spark, sf_dir):
    """ModelTrainer-parity end to end UNDER THE GATE: per-format
    configs are TRAINED from labeled generator examples
    (training.train_format_config — anchors, shape regexes and row
    structure learned from label boxes + OCR words, never read from
    config.py), registered as version 2 in the model registry, and the
    full extraction pipeline runs with the registry's latest configs.
    The oracle is the SAME committed q19 golden parquet (independent
    Python mini-shredder over generator ground truth) — green means
    the learned artifact reproduces the hand-written model's
    extraction exactly, with the registry argmax serving the trained
    version."""
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import run_extraction
    from horus_spark.registry import bootstrap_registry, register_model
    from horus_spark.training import (
        generator_examples,
        train_format_config,
    )

    reg = bootstrap_registry(spark)
    for fmt in ("abc", "oscorp", "nouryon"):
        cfg = train_format_config(generator_examples(fmt, n=5))
        reg = register_model(reg, fmt, f"model-{fmt}-trained", cfg)
    c = corpus_spark(spark, 150, partitions=8)
    out = run_extraction(c["documents"], c["ocr_words"], registry=reg)
    return out.select(
        "doc_id", "thumbprint", "recognizer_status", "document_number",
        "tax_period", "account", "post_code",
        F.round("net_total", 2).alias("net_total"),
        F.round("grand_total", 2).alias("grand_total"),
        F.size("line_items").alias("n_lines"),
        F.size("errors").alias("n_errors"),
        "is_valid",
    )


def _q194_components_audit(spark, sf_dir):
    """Connected-components VALIDITY AUDIT — the scale-tier check for
    q40: the recursive-CTE replay oracle is DuckDB-infeasible beyond
    ~5k docs (CORRECTNESS_SF1.json), so this audit verifies the
    large-star/small-star output STRUCTURALLY, with no recursion
    anywhere — runnable (and run, green) at the 10x sf1 dir:

      n_edge_violations      every minhash pair's endpoints share a
                             cluster (no under-merge);
      n_canonical_violations cluster_id == min member id;
      n_size_violations      cluster_size == the actual member count;
      n_undersupported       every size-k cluster carries >= k-1
                             intra-cluster pairs — a spanning-tree
                             NECESSARY condition that catches
                             over-merge (members no pair path could
                             have connected).

    The oracle replays the q21 pair pipeline for n_docs/n_pairs and
    pins all four violation counts at ZERO — green means the pair
    generation matches SQL exactly AND the closure is structurally
    sound. The companion pytest plants a corrupted clustering and
    proves each audit actually fires (no vacuous zeros)."""
    from horus_spark.operators.components import assign_clusters
    from horus_spark.operators.dedup import minhash_dedup_pairs

    d = _fanout(
        _load(spark, sf_dir, "documents").withColumn(
            "doc_id", F.col("doc_id").cast("string")
        )
    )
    pairs = minhash_dedup_pairs(
        d, n=3, k=64, bands=16, threshold=0.3
    ).localCheckpoint(eager=False)
    clusters = assign_clusters(d, pairs).localCheckpoint(eager=False)
    return _components_audit_frame(d, pairs, clusters)


def _components_audit_frame(d, pairs, clusters):
    """The four structural audits as ONE row of scalar aggregates
    (shared by q194 and the corruption pytest). All joins are id- or
    cluster-keyed equi-joins; every audit is an aggregate with
    map-side combine — no recursion, no crossJoin except the final
    scalar assembly (6 one-row frames)."""
    ca = clusters.select(
        F.col("id").alias("a"), F.col("cluster_id").alias("cl_a")
    )
    cb = clusters.select(
        F.col("id").alias("b"), F.col("cluster_id").alias("cl_b")
    )
    p = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    pj = p.join(ca, "a").join(cb, "b").localCheckpoint(eager=False)
    edge = pj.agg(
        F.coalesce(
            F.sum((F.col("cl_a") != F.col("cl_b")).cast("long")), F.lit(0)
        ).alias("n_edge_violations")
    )
    per_cl = clusters.groupBy("cluster_id").agg(
        F.min("id").alias("__mn"),
        F.count(F.lit(1)).alias("__n"),
        F.min("cluster_size").alias("__szmn"),
        F.max("cluster_size").alias("__szmx"),
    )
    canon = per_cl.agg(
        F.coalesce(
            F.sum((F.col("__mn") != F.col("cluster_id")).cast("long")),
            F.lit(0),
        ).alias("n_canonical_violations")
    )
    size = per_cl.agg(
        F.coalesce(
            F.sum(
                (
                    (F.col("__szmn") != F.col("__n"))
                    | (F.col("__szmx") != F.col("__n"))
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_size_violations")
    )
    # spanning support: intra-edges per cluster (pairs whose endpoints
    # agree — disagreeing ones are already edge violations)
    epc = (
        pj.where(F.col("cl_a") == F.col("cl_b"))
        .groupBy(F.col("cl_a").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("__e"))
    )
    under = (
        per_cl.where(F.col("__n") > 1)
        .join(epc, "cluster_id", "left")
        .agg(
            F.coalesce(
                F.sum(
                    (
                        F.coalesce(F.col("__e"), F.lit(0))
                        < F.col("__n") - 1
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_undersupported_clusters")
        )
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    n_pairs = p.agg(F.count(F.lit(1)).alias("n_pairs"))
    return (
        n_docs.crossJoin(n_pairs)
        .crossJoin(edge)
        .crossJoin(canon)
        .crossJoin(size)
        .crossJoin(under)
    )


def _q195_packing_audit(spark, sf_dir):
    """Sequence-packing VALIDITY AUDIT — the scale-tier check for
    q41/q92, whose replay oracles step row-by-row through a recursive
    CTE and are DuckDB-infeasible beyond ~5k docs
    (CORRECTNESS_SF1.json). This audit verifies the greedy next-fit
    output STRUCTURALLY with windows and aggregates only — no
    recursion — so it runs (and is green) at the 10x sf1 dir:

      n_start_violations      each shard's first doc sits at
                              (seq 0, pos 0);
      n_transition_violations consecutive docs either continue the
                              sequence (same seq, pos+1) or open the
                              next one (seq+1, pos 0) — never skip;
      n_budget_violations     every multi-doc sequence's token total
                              is within budget (a single oversized
                              doc may exceed it alone);
      n_greedy_violations     a sequence break is only legal when the
                              arriving doc would NOT have fit the
                              previous sequence — premature breaks
                              (under-packing) are caught, which a
                              feasibility-only check would miss.

    The oracle replays n_docs and the used-shard count from the md5
    shard rule and pins all four violation counters at ZERO. The
    companion pytest plants skipped-seq, overfull and premature-break
    packings and proves each counter fires."""
    from horus_spark.operators.packing import pack_sequences
    from horus_spark.operators.textstats import token_count_expr

    d = _fanout(_load(spark, sf_dir, "documents")).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        token_count_expr(F.col("text")).alias("n_tokens"),
    )
    packed = pack_sequences(d, "doc_id", "n_tokens", budget=512, n_shards=8)
    return _packing_audit_frame(packed, budget=512)


def _packing_audit_frame(packed, budget: int):
    """The four structural packing audits as ONE scalar row (shared by
    q195 and the corruption pytest). Input: (doc_id, shard, seq_id,
    seq_pos, n_tokens). All checks are per-shard windows ordered by
    doc_id (the packing order) plus per-sequence aggregates — slim
    rows, map-side combine, zero recursion."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("shard").orderBy("doc_id")
    t = packed.select(
        "doc_id", "shard", "seq_id", "seq_pos", "n_tokens",
        F.lag("seq_id").over(w).alias("p_seq"),
        F.lag("seq_pos").over(w).alias("p_pos"),
    ).localCheckpoint(eager=False)
    start = t.where(F.col("p_seq").isNull()).agg(
        F.coalesce(
            F.sum(
                ((F.col("seq_id") != 0) | (F.col("seq_pos") != 0)).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_start_violations")
    )
    trans = t.where(F.col("p_seq").isNotNull()).agg(
        F.coalesce(
            F.sum(
                (
                    ~(
                        (
                            (F.col("seq_id") == F.col("p_seq"))
                            & (F.col("seq_pos") == F.col("p_pos") + 1)
                        )
                        | (
                            (F.col("seq_id") == F.col("p_seq") + 1)
                            & (F.col("seq_pos") == 0)
                        )
                    )
                ).cast("long")
            ),
            F.lit(0),
        ).alias("n_transition_violations")
    )
    per_seq = packed.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("__tot"), F.count(F.lit(1)).alias("__n")
    )
    budget_v = per_seq.agg(
        F.coalesce(
            F.sum(
                ((F.col("__tot") > budget) & (F.col("__n") > 1)).cast(
                    "long"
                )
            ),
            F.lit(0),
        ).alias("n_budget_violations")
    )
    # greedy: for each seq-opening row (pos 0, p_seq not null), the doc
    # must NOT have fit the previous sequence: prev_total + tokens > budget
    openers = t.where(
        F.col("p_seq").isNotNull() & (F.col("seq_pos") == 0)
    ).select("shard", "seq_id", "n_tokens")
    greedy = (
        openers.join(
            per_seq.select(
                "shard",
                (F.col("seq_id") + 1).alias("seq_id"),
                F.col("__tot").alias("__prev_tot"),
            ),
            ["shard", "seq_id"],
        )
        .agg(
            F.coalesce(
                F.sum(
                    (
                        F.col("__prev_tot") + F.col("n_tokens") <= budget
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("n_greedy_violations")
        )
    )
    n_docs = packed.agg(F.count(F.lit(1)).alias("n_docs"))
    n_shards = packed.agg(
        F.countDistinct("shard").alias("n_shards_used")
    )
    return (
        n_docs.crossJoin(n_shards)
        .crossJoin(start)
        .crossJoin(trans)
        .crossJoin(budget_v)
        .crossJoin(greedy)
    )


def _q131_snapshot_diff(spark, sf_dir):
    """Incremental/changelog read over the snapshot catalog
    (sink.py:snapshot_diff): q101's DML history is replayed (4 appends
    -> snapshots 1-4, MERGE -> 5, DELETE -> 6) and the net row-level
    delta between snapshots 4 and 6 is computed from the CHANGED chunks
    only — copy-on-write carry-over rows cancel under exceptAll, so
    updates surface as delete+insert pairs and untouched rows never
    appear. The oracle derives the same delta from the DML algebra
    directly (final state EXCEPT ALL snapshot-4 state, both ways) —
    green means the catalog's chunk bookkeeping, rewrite carries and
    multiset cancellation are all exact."""
    import shutil
    import tempfile

    from horus_spark.sources.sink import (
        append_chunk,
        delete_rows,
        merge_upsert,
        snapshot_diff,
    )

    o = _load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    out = tempfile.mkdtemp(prefix="horus_q131_")
    try:
        for i in range(4):
            append_chunk(
                out,
                {"orders": o.filter(F.col("o_orderkey") % 4 == i)},
                run_id=f"seed{i}",
            )
        upd = o.filter(F.col("o_orderkey") % 10 == 3).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        ins = spark.createDataFrame(
            [(-1, 1, "X", 1.5), (-2, 2, "X", 2.5)],
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double",
        )
        merge_upsert(spark, out, "orders", upd.unionByName(ins), ["o_orderkey"])
        delete_rows(
            spark,
            out,
            "orders",
            o.filter(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
            ["o_orderkey"],
        )
        diff = snapshot_diff(spark, out, "orders", 4, 6)
        rows = diff.collect()  # materialize before the tempdir vanishes
    finally:
        shutil.rmtree(out, ignore_errors=True)
    return spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, change_type string",
    )


def _q130_deskew(spark, sf_dir):
    """Scanned-page deskew (operators/deskew.py): each document's words
    are laid on a 6-column grid sheared by a per-doc slope of
    (doc_id % 21 - 10) * 5000 ppm (up to ±5% feeder skew — enough to
    interleave adjacent 0.3in lines across the 6in page width). The
    integer least-squares fit recovers the slope, the sign-magnitude
    shear removes it, and the deskewed gap count recovers the printed
    line structure. The oracle replays synthesis, the DECIMAL/HUGEINT
    product sums, both sign-magnitude divisions and the lag-gap line
    count — bit-exact across engines by construction."""
    from horus_spark.operators.deskew import estimate_skew

    d = _fanout(_load(spark, sf_dir, "documents"))
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    base = d.select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.size(words) - 1)).alias("i")
    )
    sm = "(((doc_id % 21) - 10) * 5000)"
    xme = "(CAST(i % 6 AS BIGINT) * 1000000 + 1000000)"
    shear = (
        f"(CASE WHEN {sm} < 0 THEN -((abs({sm}) * {xme}) div 1000000)"
        f" ELSE ({sm} * {xme}) div 1000000 END)"
    )
    geo = base.select(
        "doc_id",
        F.lit(0).alias("page"),
        F.expr(f"CAST({xme} AS DOUBLE) / 1e6").alias("xc"),
        F.expr(
            f"CAST(CAST(i div 6 AS BIGINT) * 300000 + 1000000 + {shear}"
            " AS DOUBLE) / 1e6"
        ).alias("yc"),
    )
    return estimate_skew(geo, line_gap=150_000)


def _q129_kmv_set_ops(spark, sf_dir):
    """KMV sketch algebra between two crawl waves
    (operators/sketches.py:kmv_set_ops): wave t = every page's content
    digest; wave t+1 drops every 7th page, rewrites every 5th, adds a
    new page per 11th — per host, the distinct-content union /
    intersection / Jaccard are estimated from two k=8 sketches ALONE
    (the waves are never joined). The merge property makes the union
    sketch exact-by-construction; the oracle replays hashing, per-side
    k-minima, the re-cut, the bottom-k Jaccard and both estimators in
    SQL."""
    from horus_spark.operators.sketches import kmv_set_ops, kmv_sketch

    d = _fanout(_load(spark, sf_dir, "documents"))
    host = F.concat(F.lit("site-"), (F.col("doc_id") % 50).cast("string"))
    prev = d.select(host.alias("host"), F.md5("text").alias("dg"))
    curr = (
        d.where(F.col("doc_id") % 7 != 0)
        .select(
            host.alias("host"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.md5(F.concat(F.col("text"), F.lit("v2"))),
            )
            .otherwise(F.md5("text"))
            .alias("dg"),
        )
        .unionByName(
            d.where(F.col("doc_id") % 11 == 0).select(
                host.alias("host"),
                F.md5(
                    F.concat(F.lit("new"), F.col("doc_id").cast("string"))
                ).alias("dg"),
            )
        )
    )
    sa = kmv_sketch(prev, ["host"], "dg", k=8, salt="s129")
    sb = kmv_sketch(curr, ["host"], "dg", k=8, salt="s129")
    return kmv_set_ops(sa, sb, ["host"], k=8)


def _q128_phrase_search(spark, sf_dir):
    """Positional inverted index + exact phrase search
    (operators/invindex.py): postings built in one shuffle, then the
    corpus's MOST FREQUENT TRIGRAM (count desc, lexicographic
    tie-break — deterministic) is answered FROM THE INDEX ALONE: k
    filtered posting legs joined on doc, consecutive-position
    intersection as an array expression. The oracle recomputes the top
    trigram and every match position straight from the text — green
    means the index round-trips exactly (no lost/duplicated positions,
    no off-by-one in the adjacency rule)."""
    from horus_spark.operators.invindex import build_postings, phrase_matches

    d = _fanout(_load(spark, sf_dir, "documents"))
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    tri = d.select(words.alias("w")).select(
        F.explode(
            F.when(
                F.size("w") >= 3,
                F.transform(
                    F.sequence(F.lit(1), F.size("w") - 2),
                    lambda i: F.struct(
                        F.element_at(F.col("w"), i).alias("a"),
                        F.element_at(F.col("w"), i + 1).alias("b"),
                        F.element_at(F.col("w"), i + 2).alias("c"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<a:string,b:string,c:string>>"))
        ).alias("t")
    )
    top = (
        tri.groupBy("t.a", "t.b", "t.c")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("a"), F.asc("b"), F.asc("c"))
        .limit(1)
        .collect()[0]
    )
    postings = build_postings(d)
    return phrase_matches(postings, [top["a"], top["b"], top["c"]]).select(
        F.col("id").alias("doc_id"), "n_matches", "first_pos"
    )


def _q127_bpe_vocab(spark, sf_dir):
    """BPE train -> apply composition: the 4 merges learned by q122
    are applied back to the corpus (bpe_segment — a driver-constant
    merge list, pure map-side folds) and the resulting subword
    vocabulary is counted. The oracle replays training AND segmentation
    — its s4 state is exactly the per-word segmentation after 4 merges,
    so the token histogram is one explode away. Green proves the
    train/apply pair is self-consistent at corpus scale, not just on
    the pytest toy corpus."""
    from horus_spark.operators.bpe import bpe_segment, bpe_train

    d = _fanout(_load(spark, sf_dir, "documents"))
    merges = bpe_train(d, n_merges=4).orderBy("merge_rank").collect()
    seg = bpe_segment(d, merges)
    return (
        seg.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )


def _q126_edit1_pairs(spark, sf_dir):
    """Deletion-neighborhood fuzzy vocabulary matching
    (operators/fuzzy.py): every 11th token (by doc_id*31+pos phase,
    length >= 5) is corrupted by deleting its middle character — the
    OCR/typo injection — and edit1_pairs must recover every
    (corrupted, clean) pair EXACTLY via the SymSpell variant join +
    levenshtein verify, never touching an O(V^2) cross join. The
    oracle replays the corruption, the deletion-variant blocking and
    the verify in SQL. Candidate generation is vocabulary-sized slim
    string pairs; the only corpus-scale stage is the token count."""
    from horus_spark.operators.fuzzy import edit1_pairs

    d = _fanout(_load(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
                lambda w: w != "",
            )
        ).alias("pos", "w"),
    )
    h = (F.length("w") / 2).cast("int")
    corrupted = toks.select(
        F.when(
            ((F.col("doc_id") * 31 + F.col("pos")) % 11 == 0)
            & (F.length("w") >= 5),
            F.concat(
                F.col("w").substr(F.lit(1), h - 1),
                F.col("w").substr(h + 1, F.length("w")),
            ),
        )
        .otherwise(F.col("w"))
        .alias("token")
    )
    return edit1_pairs(corrupted, max_len=20)


def _q125_reading_order(spark, sf_dir):
    """Multi-column reading order (operators/reading_order.py): docs
    are laid out as synthetic pages — word-triples become fragment
    boxes; docs with doc_id % 3 != 0 alternate fragments between two
    columns (gutter 1.5in wide), the rest span the full page width.
    The interval-union sweep must find the gutter exactly on the
    two-column pages and leave single-column pages row-major, so the
    GROUND-TRUTH oracle emits the known column-major permutation
    (left column top-down, then right) straight from the synthesis
    arithmetic — no replay of the sweep. Green = the detector neither
    misses a real gutter nor hallucinates one on full-width pages."""
    from horus_spark.operators.reading_order import column_reading_order

    d = _fanout(_load(spark, sf_dir, "documents"))
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    nf = F.ceil(F.size(words) / F.lit(3)).cast("int")
    base = d.select("doc_id", nf.alias("nf")).select(
        "doc_id", F.explode(F.sequence(F.lit(0), F.col("nf") - 1)).alias("i")
    )
    two_col = F.col("doc_id") % 3 != 0
    x0 = F.when(two_col, 1.0 + (F.col("i") % 2) * 3.5).otherwise(F.lit(1.0))
    frags = base.select(
        "doc_id",
        F.lit(0).alias("page"),
        F.col("i").cast("int").alias("frag_id"),
        x0.alias("x0"),
        F.when(two_col, x0 + 2.0).otherwise(F.lit(7.0)).alias("x1"),
        F.when(two_col, 1.0 + F.floor(F.col("i") / 2) * 0.3)
        .otherwise(1.0 + F.col("i") * 0.3)
        .alias("y0"),
    ).withColumn("y1", F.col("y0") + 0.2)
    out = column_reading_order(frags, min_gap=0.5, min_side_frac=0.2)
    return out.select(
        "doc_id", "frag_id", "n_columns", "col_idx", "read_ord"
    )


def _q124_dehyphenate(spark, sf_dir):
    """Line-break de-hyphenation (operators/textfix.py): every 7th word
    (when long enough and letter-shaped at the split point) is
    hyphen-split across a synthetic line break, plus a hard wrap every
    4 words — the PDF/OCR extraction shape. The repair fold joins
    <letter>-$ line ends to lowercase-starting next lines, so the
    GROUND-TRUTH oracle is the original text itself (whitespace
    normalized) with n_joins = the synthesis's split count: green means
    every synthetic hyphenation was repaired and nothing else was
    touched (the corpus has no '-'-terminal words — verified — so the
    conservative rule fires exactly on the planted splits). Zero
    shuffle: synthesis and repair are both array expressions."""
    from horus_spark.operators.textfix import dehyphenate

    d = _fanout(_load(spark, sf_dir, "documents"))
    words = F.filter(
        F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+"),
        lambda w: w != "",
    )
    def _piece(w, i):
        h = F.floor(F.length(w) / 2).cast("int")
        split_ok = (
            (i % 7 == F.lit(3))
            & (F.length(w) >= 4)
            & w.substr(h, F.lit(1)).rlike("^[A-Za-z]$")
            & w.substr(h + 1, F.lit(1)).rlike("^[a-z]$")
        )
        return (
            F.when(
                split_ok,
                F.concat(
                    w.substr(F.lit(1), h),
                    F.lit("-\n"),
                    w.substr(h + 1, F.length(w)),
                ),
            )
            .when((i + 1) % 4 == F.lit(0), F.concat(w, F.lit("\n")))
            .otherwise(w)
        )

    lines = F.filter(
        F.transform(
            F.split(F.array_join(F.transform(words, _piece), " "), "\n"),
            lambda x: F.trim(x),
        ),
        lambda x: x != "",
    )
    return dehyphenate(
        d.select("doc_id", lines.alias("lines")), lines_col="lines"
    )


def _q123_hits(spark, sf_dir):
    """Fixed-iteration HITS hubs/authorities (operators/graph.py:hits)
    over a deterministic synthetic link graph (two edge rules over
    doc_id mod 199; src % 17 == 0 out-edges dropped, leaving pure-sink
    authorities with zero hub mass). Exact long sums + DECIMAL(38,0)
    max-normalization make the 8-iteration (hub, authority) vector
    bit-identical across partitionings and engines; the oracle replays
    the recursion over HUGEINT in a recursive CTE."""
    from horus_spark.operators.graph import hits

    d = _fanout(_load(spark, sf_dir, "documents"))
    edges = (
        d.select(
            (F.col("doc_id") % 199).alias("src"),
            ((F.col("doc_id") * 13 + 5) % 199).alias("dst"),
        )
        .unionAll(
            d.select(
                (F.col("doc_id") % 199).alias("src"),
                ((F.col("doc_id") * 29 + 11) % 199).alias("dst"),
            )
        )
        .filter(F.col("src") % 17 != 0)
    )
    return hits(edges, n_iter=8)


def _q122_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training (operators/bpe.py): the first
    4 merges learned from the corpus — word frequencies collapse the
    corpus once (the only corpus-scale shuffle), then each round is one
    vocab-sized pair-count Exchange + a zero-shuffle greedy fold merge.
    Exact long counts + lexicographic tie-break make the merge table
    bit-identical across partitionings/engines; the oracle replays all
    four rounds (argmax in SQL, the greedy left-to-right fold as a
    per-word recursive-CTE walk — validated against a pure-Python
    Sennrich reference in pytest)."""
    from horus_spark.operators.bpe import bpe_train

    d = _fanout(_load(spark, sf_dir, "documents"))
    return bpe_train(d, n_merges=4)


def _q120_ivf_pq_ann(spark, sf_dir):
    """IVF-PQ ANN (operators/pq.py) — the quantization ladder's top
    rung (float q25 -> int8 q39 -> 1-bit q82 -> PQ): 64-dim vectors
    split into 8 subspaces quantized to 8 codewords each (8 small ints
    per vector, ~32x less coarse-tier data than float32), candidates
    cell-pruned by q25's shuffle-free assignment, ADC-scored with
    EXACT INTEGER micro-dot sums (m table lookups per pair, no
    per-dimension math, no float-order hazard), exact float rerank on
    survivors only. 'lowest_id' centroids + lowest-id-sliced codebooks
    are the SQL-parity stand-ins (same convention as q25/q39);
    k-means-trained codebooks plug into the same argument. The oracle
    replays cells, per-subspace argmax encoding, the integer ADC table
    and both rank windows in SQL."""
    from horus_spark.operators.pq import ivf_pq_topk, pq_codebooks

    e = _fanout(_load(spark, sf_dir, "embeddings"), key="vec_id")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cb = pq_codebooks(e, m=8, ksub=8)
    return ivf_pq_topk(
        e, q, cb, n_centroids=16, n_probe=4, k=10, rerank=3,
        centroids="lowest_id",
    )


def _q118_host_mirrors(spark, sf_dir):
    """Host-level mirror detection (operators/mirrors.py): every 10th
    site gets a planted mirror host carrying the exact content digests
    of HALF its pages — document-level dedup sees only scattered pairs,
    but lifting fingerprints to host granularity shows the mirror's
    digest set fully contained in the site's (containment 1e6 ppm).
    Accidental cross-site clone digests (the corpus's dedup fixtures)
    stay below the shared/containment cuts, and digests spread over
    more than 20 hosts are pruned before pairing (the df-prune that
    keeps the self-join linear in true overlap). Oracle replays the
    synthesis, the prune, and the integer-ppm containment rule in SQL.
    Scale shape: distinct slim (host, digest) pairs; digest-keyed
    self-join only over pruned digests; integer arithmetic end to
    end."""
    from horus_spark.operators.mirrors import host_mirror_pairs

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    dg = F.md5(F.col("text"))
    site = d.select(
        F.concat(
            F.lit("site-"), (n % 50).cast("string"), F.lit(".test")
        ).alias("host"),
        dg.alias("digest"),
    )
    mirror = d.where(((n % 50) % 10 == 0) & (n % 2 == 0)).select(
        F.concat(
            F.lit("mirror-"), (n % 50).cast("string"), F.lit(".test")
        ).alias("host"),
        dg.alias("digest"),
    )
    return host_mirror_pairs(
        site.unionByName(mirror),
        min_shared=2,
        min_containment_ppm=800_000,
        max_hosts_per_digest=20,
    )


def _q119_recrawl_delta(spark, sf_dir):
    """Recrawl delta + per-host change rates (operators/recrawl.py):
    wave t holds one URL per document; wave t+1 drops every 7th
    (gone), rewrites the digest of every 3rd (modified), and adds a
    /new/ URL for every 5th (new) — so every verdict fires on every
    host, and the per-host integer-ppm change rate is exact. One
    full-outer join on url of two slim (url, digest) tables + one
    counter rollup; oracle replays the synthesis, the verdict CASE and
    the ppm arithmetic in SQL."""
    from horus_spark.operators.recrawl import (
        crawl_delta,
        host_change_rates,
    )

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    ns = n.cast("string")
    purl = F.concat(
        F.lit("https://site-"), (n % 50).cast("string"),
        F.lit(".test/p/"), ns,
    )
    prev = d.select(
        purl.alias("url"), F.concat(F.lit("d"), ns).alias("digest")
    )
    curr_kept = d.where(n % 7 != 0).select(
        purl.alias("url"),
        F.when(n % 3 == 0, F.concat(F.lit("m"), ns))
        .otherwise(F.concat(F.lit("d"), ns))
        .alias("digest"),
    )
    curr_new = d.where(n % 5 == 0).select(
        F.concat(
            F.lit("https://site-"), (n % 50).cast("string"),
            F.lit(".test/new/"), ns,
        ).alias("url"),
        F.concat(F.lit("x"), ns).alias("digest"),
    )
    return host_change_rates(
        crawl_delta(prev, curr_kept.unionByName(curr_new))
    )


def _q148_recrawl_schedule(spark, sf_dir):
    """Adaptive recrawl scheduling (operators/recrawl.py:
    recrawl_schedule) composed over q119's change rates: the freshness
    loop's DECISION stage — interval_hours = clamp(base * ref_ppm div
    churn_ppm) in pure integer arithmetic plus hot/warm/cold/dead
    tiering, map-side over the host-bounded rates frame. The oracle
    replays q119's synthesis + verdicts + ppm arithmetic AND the policy
    formula, so green means the whole freshness pipeline (delta ->
    rates -> schedule) is engine-portable end-to-end."""
    from horus_spark.operators.recrawl import recrawl_schedule

    rates = _q119_recrawl_delta(spark, sf_dir)
    return recrawl_schedule(rates)


def _q117_redirect_resolution(spark, sf_dir):
    """Redirect-chain resolution (operators/redirects.py): the synthetic
    redirect map sends n -> n+1 except that every 10th id is a terminal
    (no out-edge) and every id ending in 55 points BACK to 54, planting
    a 2-cycle whose feeders exhaust the hop cap. Chains run 0-9 hops
    against a cap of 8, so the corpus exercises every verdict: 0-hop
    terminals, 1-8-hop resolved chains, 9-hop chains cut by the cap,
    cycle members, and cycle feeders. resolve_redirects pointer-doubles
    the map (3 self-joins of the redirect-sized table, exact hop
    sums), applies it to the URL set in one join, and flags finals
    that still have an out-edge. The oracle replays the walk as a
    recursive CTE stepping to the same cap. Scale shape: the log-round
    self-joins touch only the redirect map; corpus rows cross exactly
    one equi-join."""
    from horus_spark.operators.redirects import resolve_redirects

    d = _fanout(_load(spark, sf_dir, "documents"))
    n = F.col("doc_id").cast("long")
    url = F.concat(F.lit("https://x.test/r/"), n.cast("string"))
    dstn = F.when(n % 100 == 55, n - 1).otherwise(n + 1)
    edges = d.where((n % 100 == 55) | (n % 10 != 9)).select(
        url.alias("src_url"),
        F.concat(F.lit("https://x.test/r/"), dstn.cast("string")).alias(
            "dst_url"
        ),
    )
    urls = d.select(url.alias("url"))
    return resolve_redirects(urls, edges, max_hops=8)


def _q116_anchor_stats(spark, sf_dir):
    """Anchor-text aggregation per link destination
    (operators/anchors.py) — the classic web signal (link text
    describes the target; search ranking and weak-label mining) over
    the q106 crawl graph: per resolved destination URL, total links,
    distinct source pages, and the top-2 anchor terms (count DESC,
    term ASC), space-joined for the gate. The oracle is GROUND TRUTH:
    the known 8-anchor-per-page link set is synthesized from documents
    and the count/top-k/join arithmetic replayed in SQL — green means
    extraction, resolution and the windowed term cut all compose.
    Scale shape: one (url, term) hash agg with map-side combine, a
    WindowGroupLimit top-k on the aggregated counts, one slim totals
    agg joined back on url."""
    from horus_spark.operators.anchors import anchor_stats
    from horus_spark.operators.html import extract_links

    links = extract_links(_linked_pages(spark, sf_dir), base_url_col="url")
    out = anchor_stats(links, k=2)
    return out.select(
        "url",
        "n_refs",
        "n_sources",
        F.concat_ws(" ", "top_terms").alias("top_terms"),
    )


def _q115_trap_families(spark, sf_dir):
    """Spider-trap detection by URL-family templatization
    (operators/urls.py:trap_families): every doc contributes its
    content URL (/doc/N — one family per host, one URL per doc) plus
    THREE calendar-generator URLs (/cal/2026/M/D?page=J — digit runs
    and query values templated away, so the whole generator collapses
    to ONE family per host holding ~3/4 of the host's distinct URLs),
    plus two static pages per host (below min_urls). The family with
    >= 50% of the host's URLs and >= 5 URLs is the trap; the frontier
    caps or drops it. Oracle replays the synthesis, the two
    templating regexes, and the integer-ppm rule in SQL. Scale shape:
    templating map-side; distinct + two aggs over slim (host, family,
    url) triples; host-total join is dimension-keyed."""
    from horus_spark.operators.urls import trap_families

    d = _fanout(_load(spark, sf_dir, "documents"))
    dl = F.col("doc_id").cast("long")
    ks = (dl % 50).cast("string")
    site = F.concat(F.lit("https://site-"), ks, F.lit(".test"))
    doc_url = F.concat(site, F.lit("/doc/"), F.col("doc_id"))

    def cal(j):
        return F.concat(
            site, F.lit("/cal/2026/"), (dl % 12 + 1).cast("string"),
            F.lit("/"), (dl % 28 + 1).cast("string"),
            F.lit("?page="), F.lit(str(j)),
        )

    urls = d.select(
        F.explode(F.array(doc_url, cal(1), cal(2), cal(3))).alias("url")
    )
    kk = F.col("k").cast("string")
    statics = (
        d.select((dl % 50).alias("k"))
        .distinct()
        .select(
            F.explode(
                F.array(
                    F.concat(
                        F.lit("https://site-"), kk, F.lit(".test/about")
                    ),
                    F.concat(
                        F.lit("https://site-"), kk, F.lit(".test/contact")
                    ),
                )
            ).alias("url")
        )
    )
    return trap_families(
        urls.unionByName(statics), min_urls=5, min_frac_ppm=500_000
    )


def _q112_template_removal(spark, sf_dir):
    """Cross-page template detection (operators/templates.py): the
    per-page density screen keeps the synthesized footer's plain-text
    'Copyright 2026 Example Corp' line on EVERY page (27 chars, zero
    links — q107 quantifies exactly this precision loss), and no
    per-page signal can reject it. Domain-frequency can: group content
    blocks by (domain, md5(text)), count distinct pages, and flag
    digests on >= 60% (integer ppm) of a domain's pages with >= 2 pages
    — then reassemble per-doc clean text from the survivors in document
    order. The oracle replays the whole chain (block screen -> digest
    frequency -> threshold -> ordered reassembly) in SQL. Scale shape:
    digests map-side; the frequency agg shuffles slim (domain, digest,
    doc) triples; the template table joining back is domain-repeated
    blocks only — broadcast-sized; reassembly is one doc-keyed shuffle
    with sort_array, no window."""
    from horus_spark.operators.html import html_blocks
    from horus_spark.operators.templates import (
        clean_pages,
        template_digests,
    )

    pages = _html_pages(spark, sf_dir)
    blocks = html_blocks(pages).where(F.col("is_content") == 1)
    dl = F.col("doc_id").cast("long")
    blocks = blocks.withColumn(
        "domain",
        F.concat(F.lit("site-"), (dl % 50).cast("string"), F.lit(".test")),
    )
    t = template_digests(blocks, min_pages=2, min_frac_ppm=600_000)
    return clean_pages(blocks, t)


def _q111_robots_policy(spark, sf_dir):
    """Crawl-policy evaluation (RFC 9309 longest-match core,
    operators/robots.py): every document becomes a URL on its domain
    (path family by doc_id % 4: /doc, /private, /private/ok, /tmp) and
    every domain gets a deterministic robots.txt that exercises the full
    rule grammar — a wildcard group (Disallow /private, Allow
    /private/ok beating it on length, plus an empty no-op Disallow that
    a sloppy parser would turn into "disallow everything"), a
    horusbot-only /tmp block on every 3rd domain, an equal-length
    Allow/Disallow TIE on /tmp on every 7th domain written with MIXED
    agent-name case (allow must win the tie), and a catch-all
    `Disallow: /` under User-agent: badbot on every 5th domain that must
    NOT apply to us. parse_robots -> apply_robots for agent 'horusbot';
    the oracle derives each URL's expected verdict straight from the
    construction rules, so green means the parser + longest-match
    evaluator recover the known policy exactly. Scale shape: parsing is
    pure map-side expressions; evaluation is one join on domain (the
    rules side is robots-sized — AQE broadcasts it) plus an integer-max
    aggregation (priority = 2*prefix_len + is_allow), map-side
    combined."""
    from horus_spark.operators.robots import apply_robots, parse_robots

    d = _fanout(_load(spark, sf_dir, "documents"))
    dl = F.col("doc_id").cast("long")
    ks = (dl % 50).cast("string")
    did = dl.cast("string")
    path = (
        F.when(dl % 4 == 0, F.concat(F.lit("/doc/"), did))
        .when(dl % 4 == 1, F.concat(F.lit("/private/"), did))
        .when(dl % 4 == 2, F.concat(F.lit("/private/ok/"), did))
        .otherwise(F.concat(F.lit("/tmp/"), did))
    )
    pages = d.select(
        F.concat(F.lit("https://site-"), ks, F.lit(".test"), path).alias(
            "url"
        )
    )
    domains = d.select((dl % 50).alias("k")).distinct()
    kk = F.col("k")
    txt = F.concat(
        F.lit(
            "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
            "Disallow:"
        ),
        F.when(
            kk % 3 == 0,
            F.lit("\n\nUser-agent: horusbot\nDisallow: /tmp"),
        ).otherwise(F.lit("")),
        F.when(
            kk % 7 == 0,
            F.lit("\n\nUser-Agent: HorusBot\nAllow: /tmp\nDisallow: /tmp"),
        ).otherwise(F.lit("")),
        F.when(
            kk % 5 == 0,
            F.lit("\n\nUser-agent: badbot\nDisallow: /"),
        ).otherwise(F.lit("")),
    )
    robots = domains.select(
        F.concat(F.lit("site-"), kk.cast("string"), F.lit(".test")).alias(
            "domain"
        ),
        txt.alias("robots_txt"),
    )
    rules = parse_robots(robots, agent="horusbot")
    return apply_robots(pages, rules)


def _q108_html_to_spans(spark, sf_dir):
    """Crawl-ingestion bridge: pages synthesized WITH media elements
    (an img/video after every third chunk — the _interleave_spans_over
    construction rendered as markup) -> html_to_spans -> the engine's
    interleaved span schema, exploded to one row per span. The oracle
    reconstructs the expected span sequence directly from documents
    (ground truth: the interleave construction plus the leading h1
    span), so a green row means raw HTML round-trips EXACTLY into the
    corpus shape every interleaved operator (q88-q103) consumes —
    boilerplate (including nav/footer markup) stripped before spans
    exist, media refs and document order preserved."""
    from horus_spark.operators.html import html_to_spans, synthesize_html

    pages = synthesize_html(
        _fanout(_load(spark, sf_dir, "documents")), media=True
    )
    return html_to_spans(pages).select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_pricing_summary": _q01_pricing_summary,
        "q02_totals_chain": _q02_totals_chain,
        "q03_latest_per_key": _q03_latest_per_key,
        "q04_region_revenue": _q04_region_revenue,
        "q05_versioning": _q05_versioning,
        "q06_tax_period": _q06_tax_period,
        "q07_error_taxonomy": _q07_error_taxonomy,
        "q08_accuracy_score": _q08_accuracy_score,
        "q09_sessionize": _q09_sessionize,
        "q10_dedup_exact": _q10_dedup_exact,
        "q11_ngram_jaccard": _q11_ngram_jaccard,
        "q12_token_stats": _q12_token_stats,
        "q13_quality": _q13_quality,
        "q14_langid": _q14_langid,
        "q15_fingerprint": _q15_fingerprint,
        "q16_simhash": _q16_simhash,
        "q17_ann_topk": _q17_ann_topk,
        "q18_label_norms": _q18_label_norms,
        "q19_extract_documents": _q19_extract_documents,
        "q20_extract_spans": _q20_extract_spans,
        "q21_minhash_pairs": _q21_minhash_pairs,
        "q22_lsh_ann": _q22_lsh_ann,
        "q23_cosine_neardup": _q23_cosine_neardup,
        "q24_lsh_cosine_pairs": _q24_lsh_cosine_pairs,
        "q25_ivf_topk": _q25_ivf_topk,
        "q26_model_registry": _q26_model_registry,
        "q27_score_summary": _q27_score_summary,
        "q28_asset_counts": _q28_asset_counts,
        "q29_subword_stats": _q29_subword_stats,
        "q30_multiband_cosine": _q30_multiband_cosine,
        "q31_simhash_pairs": _q31_simhash_pairs,
        "q32_versioned_sink": _q32_versioned_sink,
        "q33_dedup_pipeline": _q33_dedup_pipeline,
        "q34_quantized_ann": _q34_quantized_ann,
        "q39_ivf_quantized_ann": _q39_ivf_quantized_ann,
        "q40_dedup_clusters": _q40_dedup_clusters,
        "q35_bucketed_join": _q35_bucketed_join,
        "q36_salted_join": _q36_salted_join,
        "q37_media_features": _q37_media_features,
        "q38_frame_sample": _q38_frame_sample,
        "q41_sequence_packing": _q41_sequence_packing,
        "q42_stratified_sample": _q42_stratified_sample,
        "q43_asof_join": _q43_asof_join,
        "q44_interval_join": _q44_interval_join,
        "q45_repetition": _q45_repetition,
        "q46_weighted_sample": _q46_weighted_sample,
        "q47_decontaminate": _q47_decontaminate,
        "q48_semantic_dedup": _q48_semantic_dedup,
        "q49_top_ngrams": _q49_top_ngrams,
        "q50_bloom_decontaminate": _q50_bloom_decontaminate,
        "q51_kmv_distinct": _q51_kmv_distinct,
        "q52_bm25": _q52_bm25,
        "q53_doc_chunks": _q53_doc_chunks,
        "q54_pii": _q54_pii,
        "q55_domain_counts": _q55_domain_counts,
        "q56_dup_paragraphs": _q56_dup_paragraphs,
        "q57_lm_score": _q57_lm_score,
        "q58_top_per_key": _q58_top_per_key,
        "q59_label_centroids": _q59_label_centroids,
        "q60_dsir_weights": _q60_dsir_weights,
        "q61_dup_spans": _q61_dup_spans,
        "q62_domain_mixture": _q62_domain_mixture,
        "q63_quality_filter": _q63_quality_filter,
        "q64_dedup_keep_best": _q64_dedup_keep_best,
        "q65_containment_pairs": _q65_containment_pairs,
        "q66_pagerank": _q66_pagerank,
        "q67_heavy_hitters": _q67_heavy_hitters,
        "q68_time_rollup": _q68_time_rollup,
        "q69_zorder_key": _q69_zorder_key,
        "q70_grouped_quantiles": _q70_grouped_quantiles,
        "q71_corpus_split": _q71_corpus_split,
        "q72_global_rownum": _q72_global_rownum,
        "q73_kmeans_clusters": _q73_kmeans_clusters,
        "q74_epoch_shuffle": _q74_epoch_shuffle,
        "q75_ccnet_tiers": _q75_ccnet_tiers,
        "q76_incremental_dedup": _q76_incremental_dedup,
        "q77_cluster_balanced_sample": _q77_cluster_balanced_sample,
        "q78_bigram_lm": _q78_bigram_lm,
        "q79_c4_clean": _q79_c4_clean,
        "q80_pmi_collocations": _q80_pmi_collocations,
        "q81_char_entropy": _q81_char_entropy,
        "q82_hamming_ann": _q82_hamming_ann,
        "q83_hll_distinct": _q83_hll_distinct,
        "q84_rrf_fusion": _q84_rrf_fusion,
        "q85_tfidf_pairs": _q85_tfidf_pairs,
        "q86_winnow_pairs": _q86_winnow_pairs,
        "q87_scd2_history": _q87_scd2_history,
        "q88_interleave_stats": _q88_interleave_stats,
        "q89_caption_pairs": _q89_caption_pairs,
        "q90_multimodal_dedup": _q90_multimodal_dedup,
        "q91_media_integrity": _q91_media_integrity,
        "q92_multimodal_packing": _q92_multimodal_packing,
        "q93_asset_dedup": _q93_asset_dedup,
        "q94_ref_rewrite": _q94_ref_rewrite,
        "q95_multimodal_minhash": _q95_multimodal_minhash,
        "q96_modality_mixture": _q96_modality_mixture,
        "q97_incremental_multimodal": _q97_incremental_multimodal,
        "q98_redact_spans": _q98_redact_spans,
        "q99_segment_spans": _q99_segment_spans,
        "q100_multimodal_keep_best": _q100_multimodal_keep_best,
        "q101_dml_roundtrip": _q101_dml_roundtrip,
        "q102_span_langid": _q102_span_langid,
        "q103_profile": _q103_profile,
        "q104_html_blocks": _q104_html_blocks,
        "q105_dom_extract": _q105_dom_extract,
        "q106_html_links": _q106_html_links,
        "q107_extraction_eval": _q107_extraction_eval,
        "q108_html_to_spans": _q108_html_to_spans,
        "q109_warc_parse": _q109_warc_parse,
        "q110_page_metadata": _q110_page_metadata,
        "q111_robots_policy": _q111_robots_policy,
        "q112_template_removal": _q112_template_removal,
        "q113_crawl_frontier": _q113_crawl_frontier,
        "q114_sitemap_parse": _q114_sitemap_parse,
        "q115_trap_families": _q115_trap_families,
        "q116_anchor_stats": _q116_anchor_stats,
        "q117_redirect_resolution": _q117_redirect_resolution,
        "q118_host_mirrors": _q118_host_mirrors,
        "q119_recrawl_delta": _q119_recrawl_delta,
        "q120_ivf_pq_ann": _q120_ivf_pq_ann,
        "q121_semantic_decontam": _q121_semantic_decontam,
        "q122_bpe_train": _q122_bpe_train,
        "q123_hits": _q123_hits,
        "q124_dehyphenate": _q124_dehyphenate,
        "q125_reading_order": _q125_reading_order,
        "q126_edit1_pairs": _q126_edit1_pairs,
        "q127_bpe_vocab": _q127_bpe_vocab,
        "q128_phrase_search": _q128_phrase_search,
        "q129_kmv_set_ops": _q129_kmv_set_ops,
        "q130_deskew": _q130_deskew,
        "q131_snapshot_diff": _q131_snapshot_diff,
        "q132_stats_cube": _q132_stats_cube,
        "q133_event_transitions": _q133_event_transitions,
        "q134_cohort_retention": _q134_cohort_retention,
        "q135_mojibake": _q135_mojibake,
        "q136_incremental_view": _q136_incremental_view,
        "q137_triangles": _q137_triangles,
        "q138_funnel": _q138_funnel,
        "q139_prefix_jaccard": _q139_prefix_jaccard,
        "q140_gazetteer": _q140_gazetteer,
        "q141_cms_freq": _q141_cms_freq,
        "q142_classifier": _q142_classifier,
        "q143_hdr_quantiles": _q143_hdr_quantiles,
        "q144_politeness": _q144_politeness,
        "q145_domain_prior": _q145_domain_prior,
        "q146_span_diff": _q146_span_diff,
        "q147_srp_project": _q147_srp_project,
        "q148_recrawl_schedule": _q148_recrawl_schedule,
        "q149_profile_drift": _q149_profile_drift,
        "q150_outlier_gate": _q150_outlier_gate,
        "q151_zipf_fit": _q151_zipf_fit,
        "q152_rate_anomalies": _q152_rate_anomalies,
        "q153_cdc_dedup": _q153_cdc_dedup,
        "q154_hll_wave_overlap": _q154_hll_wave_overlap,
        "q155_sitemap_coverage": _q155_sitemap_coverage,
        "q156_tokenizer_fertility": _q156_tokenizer_fertility,
        "q157_robots_audit": _q157_robots_audit,
        "q158_html_tables": _q158_html_tables,
        "q159_feed_parse": _q159_feed_parse,
        "q160_maxscore_topk": _q160_maxscore_topk,
        "q161_bloom_dml": _q161_bloom_dml,
        "q162_sentences": _q162_sentences,
        "q163_page_outline": _q163_page_outline,
        "q164_label_propagation": _q164_label_propagation,
        "q165_readability": _q165_readability,
        "q166_url_canonicalize": _q166_url_canonicalize,
        "q167_span_corruption": _q167_span_corruption,
        "q168_section_chunks": _q168_section_chunks,
        "q169_registered_domain": _q169_registered_domain,
        "q170_read_lookup": _q170_read_lookup,
        "q171_ul2_plan": _q171_ul2_plan,
        "q172_sentence_windows": _q172_sentence_windows,
        "q173_pairwise_moments": _q173_pairwise_moments,
        "q174_percentile_normalize": _q174_percentile_normalize,
        "q175_sitemap_directives": _q175_sitemap_directives,
        "q176_citation_stats": _q176_citation_stats,
        "q177_table_records": _q177_table_records,
        "q178_bitext_mining": _q178_bitext_mining,
        "q179_snippets": _q179_snippets,
        "q180_alias_resolution": _q180_alias_resolution,
        "q181_curriculum": _q181_curriculum,
        "q182_rare_combinations": _q182_rare_combinations,
        "q183_dedup_recall": _q183_dedup_recall,
        "q184_ann_recall": _q184_ann_recall,
        "q185_class_labels": _q185_class_labels,
        "q186_jsonld": _q186_jsonld,
        "q187_microdata": _q187_microdata,
        "q188_hreflang": _q188_hreflang,
        "q189_metadata_agreement": _q189_metadata_agreement,
        "q190_trustrank": _q190_trustrank,
        "q191_bitext_ivf": _q191_bitext_ivf,
        "q192_image_decode": _q192_image_decode,
        "q193_trained_extraction": _q193_trained_extraction,
        "q194_components_audit": _q194_components_audit,
        "q195_packing_audit": _q195_packing_audit,
    }


# --------------------------------------------------------------- oracle SQL


def _cos_sql(a: str, b: str) -> str:
    """DuckDB cosine between two FLOAT[] columns, double math like Spark."""
    dot = (
        f"list_sum([CAST(({a})[i] AS DOUBLE) * CAST(({b})[i] AS DOUBLE) "
        f"for i in generate_series(1, len({a}))])"
    )
    na = f"sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in {a}]))"
    nb = f"sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in {b}]))"
    return f"({dot} / ({na} * {nb}))"


def _bucket_sql(planes: list[list[float]] | None = None, vec: str = "embedding") -> str:
    """Hyperplane sign-pattern bucket matching similarity.hyperplane_buckets
    (plane 0 = MSB); defaults to the q24 planes."""
    planes = planes if planes is not None else _lsh_planes()
    p = len(planes)
    terms = []
    for i, plane in enumerate(planes):
        lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
        dot = (
            f"list_sum([CAST({vec}[i] AS DOUBLE) * ({lit})[i] "
            f"for i in generate_series(1, len({vec}))])"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << (p - 1 - i)} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


_STOPWORDS_SQL = "['the','a','of','and','is','to','in']"
_LANGS_SQL = {
    "de": "['der','die','das','und','ist']",
    "en": "['the','a','of','and','is']",
    "es": "['el','la','los','y','es']",
    "fr": "['le','la','les','et','est']",
}


# shared by q104/q106: the synthesize_html page template replayed in SQL
# (title + script/style chrome, link-farm nav, 12-token <p> chunks under
# div.main with an <h1>, link-heavy footer) — plain string, NOT an
# f-string (the style literal contains braces).
_HTML_PAGE_CTE = """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), page AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
              '<html><head><title>Doc ' || doc_id
              || '</title><script>var nav = 1;</script><style>.nav{color:#333}</style></head><body>'
              || '<div class="nav"><ul><li><a href="/home">Home</a></li><li><a href="/about">About us</a></li><li><a href="/doc/'
              || doc_id || '">Doc ' || doc_id
              || '</a></li></ul></div><div class="main"><h1>Report ' || doc_id || '</h1>'
              || array_to_string(list_transform(
                   generate_series(0, greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1),
                   i -> '<p>' || array_to_string(w[i*12+1 : i*12+12], ' ') || '</p>'), '')
              || '</div><div class="footer"><p><a href="/terms">Terms of service</a> | <a href="/privacy">Privacy policy</a> | <a href="/contact">Contact</a></p><p>Copyright 2026 Example Corp</p></div></body></html>'
                AS html
            FROM tok
          )"""

# shared by q104/q107: the flat block screen's per-block metrics (chrome
# strip, block split, tag strip, whitespace collapse, anchor-char fold)
# — the exact algorithm of operators/html.py::html_blocks.
_HTML_MET_CTE = _HTML_PAGE_CTE + """, cleaned AS (
            SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(html,
              '(?s)<script[^>]*>.*?</script>', '', 'g'),
              '(?s)<style[^>]*>.*?</style>', '', 'g'),
              '(?s)<!--.*?-->', '', 'g') AS h
            FROM page
          ), blk AS (
            SELECT doc_id, string_split_regex(h,
              '</?(?:html|head|body|title|div|p|h[1-6]|ul|ol|li|dl|dt|dd|table|thead|tbody|tfoot|tr|td|th|nav|header|footer|section|article|main|aside|figure|figcaption|blockquote|pre|form|br|hr)(?:\\s[^>]*)?/?>')
              AS b
            FROM cleaned
          ), seg AS (
            SELECT doc_id, b, unnest(generate_series(1, len(b))) AS i
            FROM blk
          ), met AS (
            SELECT doc_id, CAST(i - 1 AS INT) AS block_pos,
              trim(regexp_replace(regexp_replace(b[i], '<[^>]*>', ' ', 'g'),
                   '\\s+', ' ', 'g')) AS block_text,
              CAST(len(regexp_extract_all(b[i], '<[^>]*>')) AS INT) AS tag_count,
              CAST(coalesce(list_sum(list_transform(
                regexp_extract_all(b[i], '(?s)<a[^>]*>(.*?)</a>', 1),
                x -> length(x))), 0) AS INT) AS link_chars
            FROM seg
          )"""


def _bpe_oracle_sql(
    n_merges: int, eow: str = "</w>", final_select: str | None = None
) -> str:
    """q122's oracle, generated per round: wf/s0 build the word-frequency
    segmentation state; then for round k, p{k} explodes adjacent pairs,
    b{k} is the argmax (count desc, pair asc — the exact Spark
    TakeOrdered rule), and w{k} replays the greedy left-to-right merge
    fold as a per-word recursive walk carrying (out, carry) — the same
    (out, carry) automaton as operators/bpe.py::_merge_fold, validated
    against a pure-Python Sennrich reference in tests/test_bpe.py."""
    parts = [
        r"""wf AS (SELECT word, count(*)::BIGINT AS cnt FROM
  (SELECT unnest(string_split_regex(trim(text),'\s+')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1)""",
        f"s0 AS (SELECT word, cnt, list_append(regexp_extract_all(word, '.'), '{eow}') AS syms FROM wf)",
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""p{k} AS (SELECT syms[i] AS ml, syms[i+1] AS mr, cnt
  FROM s{p}, unnest(generate_series(1, len(syms)-1)) AS t(i))"""
        )
        parts.append(
            f"""b{k} AS (SELECT ml, mr, SUM(cnt)::BIGINT AS c FROM p{k}
  GROUP BY 1,2 ORDER BY c DESC, ml, mr LIMIT 1)"""
        )
        parts.append(
            f"""w{k} AS (
  SELECT word, cnt, syms, ml, mr, 1 AS i, []::VARCHAR[] AS out, '' AS carry FROM s{p}, b{k}
  UNION ALL
  SELECT word, cnt, syms, ml, mr, i+1,
    CASE WHEN carry = '' THEN out
         WHEN carry = ml AND syms[i] = mr THEN list_append(out, ml || mr)
         ELSE list_append(out, carry) END,
    CASE WHEN carry = '' THEN syms[i]
         WHEN carry = ml AND syms[i] = mr THEN ''
         ELSE syms[i] END
  FROM w{k} WHERE i <= len(syms))"""
        )
        parts.append(
            f"""s{k} AS (SELECT word, cnt,
  CASE WHEN carry='' THEN out ELSE list_append(out, carry) END AS syms
  FROM w{k} WHERE i = len(syms)+1)"""
        )
    sel = final_select or "\nUNION ALL\n".join(
        f'SELECT {k} AS merge_rank, ml AS "left", mr AS "right", c AS pair_count FROM b{k}'
        for k in range(1, n_merges + 1)
    )
    return "WITH RECURSIVE\n" + ",\n".join(parts) + "\n" + sel


def _oracle_sql_literals() -> dict[str, str]:
    toks = r"string_split_regex(trim(text), '\s+')"

    def shingle_cte_src(src: str = "documents") -> str:
        """Shingle/sizes CTE prelude over any (doc_id, text) source."""
        return f"""
      WITH tok AS (
        SELECT CAST(doc_id AS VARCHAR) AS id, {toks} AS t FROM {src}
      ), sh AS (
        SELECT id, unnest(list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                    for i in generate_series(1, len(t)-2)])) AS shingle
        FROM tok WHERE len(t) >= 3
      ), sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
    """

    shingle_cte = shingle_cte_src()
    lang_score = lambda code: (  # noqa: E731
        f"len(list_filter({toks}, x -> list_contains({_LANGS_SQL[code]}, lower(x))))"
    )
    # argmax with lexicographic tie-break (matches langid_expr: strictly
    # greater replaces, so earlier code wins ties)
    lang_expr = f"""
      CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
           WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           WHEN s_es >= s_fr THEN 'es'
           ELSE 'fr' END
    """
    quality = """
      (CASE WHEN n_tok BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
       + CASE WHEN stop_ratio >= 0.05 THEN 0.3 ELSE 0.0 END
       + CASE WHEN punct_ratio <= 0.2 THEN 0.3 ELSE 0.0 END)
    """
    # q21: full MinHash-LSH pipeline in SQL — same universal-hash family as
    # dedup.minhash_signatures ((a_i*h + b_i) mod 2^31-1 over the 28-bit md5
    # prefix), same 16x4 string band buckets, same exact-Jaccard verify.
    from horus_spark.operators.dedup import MINHASH_PRIME, minhash_params

    mh_a, mh_b = minhash_params(64)
    min_exprs = ",\n             ".join(
        f"min(({mh_a[i]}*h + {mh_b[i]}) % {MINHASH_PRIME}) AS h{i}" for i in range(64)
    )
    band_selects = "\n          UNION ALL ".join(
        "SELECT id, {b} AS band, {bucket} AS bucket FROM mins".format(
            b=b,
            bucket=" || ',' || ".join(
                f"CAST(h{b * 4 + r} AS VARCHAR)" for r in range(4)
            ),
        )
        for b in range(16)
    )
    minhash_ctes = f"""
          , bh AS (
            SELECT id, CAST(concat('0x', substring(md5(shingle),1,7)) AS BIGINT) AS h
            FROM sh
          ), mins AS (
            SELECT id, {min_exprs}
            FROM bh GROUP BY id
          ), bands AS (
          {band_selects}
          ), cand AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          ), inter AS (
            SELECT c.id_a, c.id_b, count(*) AS inter
            FROM cand c
            JOIN sh a ON a.id = c.id_a
            JOIN sh b ON b.id = c.id_b AND b.shingle = a.shingle
            GROUP BY 1, 2)
        """
    minhash_select = """
          SELECT id_a, id_b,
                 round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
          FROM inter JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
          WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.3
        """
    minhash_body = minhash_ctes + minhash_select
    minhash_sql = shingle_cte + minhash_body

    # q183: the SAME pipeline over a clone-augmented corpus, reported
    # as per-mutation-tier recall (the measured recall cliff).
    _recall_mut = (
        "SELECT 'm{lv}-' || CAST(doc_id AS VARCHAR) AS doc_id,\n"
        "       array_to_string([t[i] for i in"
        " generate_series(1, len(t)) if i % {mod} <> 0], ' ') AS text\n"
        "FROM (SELECT doc_id,"
        " string_split_regex(trim(text), '\\s+') AS t FROM documents\n"
        "      WHERE CAST(doc_id AS BIGINT) % 13 = 0)"
    )
    dedup_recall_sql = (
        """
          WITH aug AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, text
            FROM documents
            UNION ALL
            """
        + _recall_mut.format(lv=1, mod=10)
        + """
            UNION ALL
            """
        + _recall_mut.format(lv=2, mod=4)
        + """
          )"""
        + shingle_cte_src("aug").replace("WITH tok AS", ", tok AS", 1)
        + minhash_ctes
        + ", mined AS ("
        + minhash_select
        + """)
          , planted AS (
            SELECT CAST(doc_id AS VARCHAR) AS orig, 1 AS level,
                   'm1-' || CAST(doc_id AS VARCHAR) AS clone
            FROM documents WHERE CAST(doc_id AS BIGINT) % 13 = 0
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 2,
                   'm2-' || CAST(doc_id AS VARCHAR)
            FROM documents WHERE CAST(doc_id AS BIGINT) % 13 = 0
          ), rep AS (
            SELECT level, count(*)::BIGINT AS n_planted,
                   sum(CASE WHEN EXISTS (
                         SELECT 1 FROM mined m
                         WHERE m.id_a = p.orig AND m.id_b = p.clone)
                       THEN 1 ELSE 0 END)::BIGINT AS n_found
            FROM planted p GROUP BY 1
          )
          SELECT level, n_planted, n_found,
                 CAST(n_found * 1000000 // n_planted AS BIGINT)
                   AS recall_ppm
          FROM rep
        """
    )
    # q95: the SAME minhash pipeline (hash family, 16x4 banding, exact
    # verify) over MULTIMODAL span-content tokens — text-chunk digests +
    # media content sha256 — on the interleaved corpus with
    # media-flipped clones; threshold 0.5.
    q95_tokens_cte = r"""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 2000001, text FROM documents WHERE doc_id % 5 = 0
      ), tokz AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM corpus
      ), chunks AS (
        SELECT doc_id, w,
               unnest(generate_series(0,
                 greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
        FROM tokz
      ), sh AS (
        SELECT DISTINCT CAST(doc_id AS VARCHAR) AS id, shingle FROM (
          SELECT doc_id,
                 'T:' || md5(lower(trim(regexp_replace(
                   array_to_string(w[i*12+1 : i*12+12], ' '), '\s+', ' ', 'g')))) AS shingle
          FROM chunks
          UNION ALL
          SELECT doc_id,
                 'M:' || sha256('blob-' || CAST(doc_id % 25 AS VARCHAR)
                                || '-' || CAST(i AS VARCHAR))
          FROM chunks WHERE i % 3 = 2
        )
      ), sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
    """
    q95_select = minhash_select.replace("0.3", "0.5")
    q95_sql = q95_tokens_cte + minhash_ctes + q95_select
    # q100: q95's pipeline as the pair source -> q64's closure + winner
    # over the interleaved corpus, quality = multimodal text tokens.
    q100_sql = (
        q95_tokens_cte.replace("WITH ", "WITH RECURSIVE ", 1)
        + minhash_ctes
        + f", pairs AS ({q95_select})"
        + """
          , edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
          ), nodes AS (
            SELECT DISTINCT CAST(doc_id AS VARCHAR) AS id FROM corpus
          ), reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.v, reach.r FROM edges e JOIN reach ON e.u = reach.id
          ), comp AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
          ), qual AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(CASE WHEN len(trim(array_to_string(w, ' '))) = 0
                             THEN 0 ELSE len(w) END AS BIGINT) AS n_text_tokens
            FROM tokz
          ), sized AS (
            SELECT c.doc_id, c.cluster_id,
                   CAST(count(*) OVER (PARTITION BY c.cluster_id) AS INT) AS cluster_size,
                   q.n_text_tokens
            FROM comp c JOIN qual q USING (doc_id)
          )
          SELECT doc_id, cluster_id, cluster_size, n_text_tokens,
                 (row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_text_tokens DESC, doc_id ASC) = 1) AS keep
          FROM sized
        """
    )
    # q40: transitive closure of the q21 pairs — min reachable id per node
    # via a recursive CTE (the graph is symmetrized, so the min over the
    # reachable set IS the component minimum), singletons from the full
    # corpus, cluster size as a window count.
    q40_sql = (
        shingle_cte.replace("WITH ", "WITH RECURSIVE ", 1)
        + minhash_ctes
        + f", pairs AS ({minhash_select})"
        + """
          , edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
          ), nodes AS (
            SELECT DISTINCT CAST(doc_id AS VARCHAR) AS id FROM documents
          ), reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.v, reach.r FROM edges e JOIN reach ON e.u = reach.id
          ), comp AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
          )
          SELECT doc_id, cluster_id,
                 CAST(count(*) OVER (PARTITION BY cluster_id) AS INT) AS cluster_size
          FROM comp
        """
    )
    # q64: q40's closure + per-cluster argmax(n_chars, min doc_id) winner
    q64_sql = (
        shingle_cte.replace("WITH ", "WITH RECURSIVE ", 1)
        + minhash_ctes
        + f", pairs AS ({minhash_select})"
        + """
          , edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
          ), nodes AS (
            SELECT DISTINCT CAST(doc_id AS VARCHAR) AS id FROM documents
          ), reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.v, reach.r FROM edges e JOIN reach ON e.u = reach.id
          ), comp AS (
            SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id
          ), sized AS (
            SELECT c.doc_id, c.cluster_id,
                   CAST(count(*) OVER (PARTITION BY c.cluster_id) AS INT) AS cluster_size,
                   d.n_chars
            FROM comp c
            JOIN (SELECT CAST(doc_id AS VARCHAR) AS doc_id, n_chars
                  FROM documents) d USING (doc_id)
          )
          SELECT doc_id, cluster_id, cluster_size,
                 CAST(n_chars AS BIGINT) AS n_chars,
                 (row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id ASC) = 1) AS keep
          FROM sized
        """
    )
    # q33: the identical minhash pipeline over CANONICAL representatives
    # only (lexicographic-min doc_id per md5(text) group — exactly
    # dedup.exact_dedup's canonical choice)
    canonical_src = """(
        SELECT doc_id, text FROM (
          SELECT doc_id, text,
                 min(CAST(doc_id AS VARCHAR)) OVER (PARTITION BY md5(text)) AS cid
          FROM documents)
        WHERE CAST(doc_id AS VARCHAR) = cid) canon"""
    q33_sql = shingle_cte_src(canonical_src) + minhash_body
    # q76: incremental dedup — the same mins/bands fragments over the
    # corpus UNIONed with its '-copy' clone slice, then four verdict
    # tiers (exact vs existing, exact in-batch, signature-verified near
    # vs existing, near in-batch) priority-coalesced. Near verification
    # is the SIGNATURE-estimated Jaccard (agreeing components >=
    # ceil(threshold*k)) — an integer compare, so engine-portable.
    q76_mm = -(-int(0.3 * 64 * 1000000) // 1000000)
    q76_match_sum = "(" + " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)" for i in range(64)
    ) + ")"
    q76_src = """(
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
        UNION ALL
        SELECT CAST(doc_id AS VARCHAR) || '-copy' AS doc_id, text FROM documents
        WHERE CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) % 7 = 0
      ) uni"""
    q76_sql = shingle_cte_src(q76_src) + minhash_ctes + f"""
      , q76base AS (
          SELECT CAST(doc_id AS VARCHAR) AS id, md5(text) AS cmd5,
                 CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)),1,7)) AS BIGINT) AS hm
          FROM documents)
      , ex AS (SELECT id, cmd5 FROM q76base WHERE hm % 5 <> 0)
      , nw AS (SELECT id, cmd5 FROM q76base WHERE hm % 5 = 0
               UNION ALL
               SELECT id || '-copy', cmd5 FROM q76base WHERE hm % 7 = 0)
      , t1 AS (SELECT n.id, min(e.id) AS p1 FROM nw n JOIN ex e ON e.cmd5 = n.cmd5 GROUP BY n.id)
      , t2 AS (SELECT x.id, min(y.id) AS p2 FROM nw x JOIN nw y ON y.cmd5 = x.cmd5 AND y.id < x.id GROUP BY x.id)
      , resolved AS (SELECT id FROM t1 UNION SELECT id FROM t2)
      , nb AS (SELECT bd.* FROM bands bd JOIN nw n ON n.id = bd.id
               WHERE bd.id NOT IN (SELECT id FROM resolved))
      , eb AS (SELECT bd.* FROM bands bd JOIN ex e ON e.id = bd.id)
      , cand3 AS (SELECT DISTINCT n.id AS nid, e.id AS pid
                  FROM nb n JOIN eb e ON n.band = e.band AND n.bucket = e.bucket)
      , t3 AS (SELECT c.nid AS id, min(c.pid) AS p3 FROM cand3 c
               JOIN mins a ON a.id = c.nid JOIN mins b ON b.id = c.pid
               WHERE {q76_match_sum} >= {q76_mm} GROUP BY c.nid)
      , cand4 AS (SELECT DISTINCT x.id AS nid, y.id AS pid
                  FROM nb x JOIN nb y ON x.band = y.band AND x.bucket = y.bucket AND y.id < x.id)
      , t4 AS (SELECT c.nid AS id, min(c.pid) AS p4 FROM cand4 c
               JOIN mins a ON a.id = c.nid JOIN mins b ON b.id = c.pid
               WHERE {q76_match_sum} >= {q76_mm} GROUP BY c.nid)
      SELECT n.id AS doc_id,
             CASE WHEN t1.p1 IS NOT NULL THEN 'exact_existing'
                  WHEN t2.p2 IS NOT NULL THEN 'exact_batch'
                  WHEN t3.p3 IS NOT NULL THEN 'near_existing'
                  WHEN t4.p4 IS NOT NULL THEN 'near_batch'
                  ELSE 'unique' END AS verdict,
             COALESCE(t1.p1, t2.p2, t3.p3, t4.p4) AS partner_id
      FROM nw n
      LEFT JOIN t1 ON t1.id = n.id LEFT JOIN t2 ON t2.id = n.id
      LEFT JOIN t3 ON t3.id = n.id LEFT JOIN t4 ON t4.id = n.id
    """
    # q97: q76's verdict skeleton over the MULTIMODAL index — digest =
    # the q90 fingerprint, signatures over span-content token sets
    # (q95's sh construction), threshold 0.5 -> >= 32 of 64 components.
    q97_mm = -(-int(0.5 * 64 * 1000000) // 1000000)
    q97_prelude = r"""
      WITH corpus AS (
        SELECT CAST(doc_id AS VARCHAR) AS id, text,
               doc_id % 25 AS klass, 'ex' AS side FROM documents
        UNION ALL
        SELECT CAST(doc_id + 2000001 AS VARCHAR), text,
               (doc_id + 1) % 25, 'nw' FROM documents WHERE doc_id % 5 = 0
        UNION ALL
        SELECT CAST(doc_id + 1000000 AS VARCHAR), text,
               doc_id % 25, 'nw' FROM documents WHERE doc_id % 7 = 0
        UNION ALL
        SELECT CAST(doc_id + 3000000 AS VARCHAR), 'zz ' || text,
               doc_id % 25, 'nw' FROM documents WHERE doc_id % 11 = 0
        UNION ALL
        SELECT CAST(doc_id + 4000000 AS VARCHAR), 'zz ' || text,
               doc_id % 25, 'nw' FROM documents WHERE doc_id % 11 = 0
      ), tokz AS (
        SELECT id, side, klass, string_split_regex(trim(text), '\s+') AS w
        FROM corpus
      ), chunks AS (
        SELECT id, klass, w,
               unnest(generate_series(0,
                 greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
        FROM tokz
      ), rawtok AS (
        SELECT id, i*2 AS ord,
               'T:' || md5(lower(trim(regexp_replace(
                 array_to_string(w[i*12+1 : i*12+12], ' '), '\s+', ' ', 'g')))) AS tok
        FROM chunks
        UNION ALL
        SELECT id, i*2+1,
               'M:' || sha256('blob-' || CAST(klass AS VARCHAR)
                              || '-' || CAST(i AS VARCHAR))
        FROM chunks WHERE i % 3 = 2
      ), fp AS (
        SELECT id, md5(string_agg(chr(31) || tok, '' ORDER BY ord)) AS cmd5
        FROM rawtok GROUP BY id
      ), sh AS (
        SELECT DISTINCT id, tok AS shingle FROM rawtok
      ), sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY id)
    """
    q97_sql = q97_prelude + minhash_ctes + f"""
      , ex AS (SELECT f.id, f.cmd5 FROM fp f JOIN tokz c ON c.id = f.id AND c.side = 'ex')
      , nw AS (SELECT f.id, f.cmd5 FROM fp f JOIN tokz c ON c.id = f.id AND c.side = 'nw')
      , t1 AS (SELECT n.id, min(e.id) AS p1 FROM nw n JOIN ex e ON e.cmd5 = n.cmd5 GROUP BY n.id)
      , t2 AS (SELECT x.id, min(y.id) AS p2 FROM nw x JOIN nw y ON y.cmd5 = x.cmd5 AND y.id < x.id GROUP BY x.id)
      , resolved AS (SELECT id FROM t1 UNION SELECT id FROM t2)
      , nb AS (SELECT bd.* FROM bands bd JOIN nw n ON n.id = bd.id
               WHERE bd.id NOT IN (SELECT id FROM resolved))
      , eb AS (SELECT bd.* FROM bands bd JOIN ex e ON e.id = bd.id)
      , cand3 AS (SELECT DISTINCT n.id AS nid, e.id AS pid
                  FROM nb n JOIN eb e ON n.band = e.band AND n.bucket = e.bucket)
      , t3 AS (SELECT c.nid AS id, min(c.pid) AS p3 FROM cand3 c
               JOIN mins a ON a.id = c.nid JOIN mins b ON b.id = c.pid
               WHERE {q76_match_sum} >= {q97_mm} GROUP BY c.nid)
      , cand4 AS (SELECT DISTINCT x.id AS nid, y.id AS pid
                  FROM nb x JOIN nb y ON x.band = y.band AND x.bucket = y.bucket AND y.id < x.id)
      , t4 AS (SELECT c.nid AS id, min(c.pid) AS p4 FROM cand4 c
               JOIN mins a ON a.id = c.nid JOIN mins b ON b.id = c.pid
               WHERE {q76_match_sum} >= {q97_mm} GROUP BY c.nid)
      SELECT n.id AS doc_id,
             CASE WHEN t1.p1 IS NOT NULL THEN 'exact_existing'
                  WHEN t2.p2 IS NOT NULL THEN 'exact_batch'
                  WHEN t3.p3 IS NOT NULL THEN 'near_existing'
                  WHEN t4.p4 IS NOT NULL THEN 'near_batch'
                  ELSE 'unique' END AS verdict,
             COALESCE(t1.p1, t2.p2, t3.p3, t4.p4) AS partner_id
      FROM nw n
      LEFT JOIN t1 ON t1.id = n.id LEFT JOIN t2 ON t2.id = n.id
      LEFT JOIN t3 ON t3.id = n.id LEFT JOIN t4 ON t4.id = n.id
    """
    # q98: span-level PII redaction over the interleaved construction —
    # per-CHUNK redaction chain + independent per-pattern counts (the
    # q54 patterns verbatim from pii.PII_PATTERNS), text-span offset =
    # i + floor(i/3).
    from horus_spark.operators.pii import PII_PATTERNS

    _red = "chunk"
    for _, _pat, _tok in PII_PATTERNS:
        _red = f"regexp_replace({_red}, '{_pat}', '{_tok}', 'g')"
    _cnt = " + ".join(
        f"len(regexp_extract_all(chunk, '{_pat}'))" for _, _pat, _ in PII_PATTERNS
    )
    q98_sql = r"""
      WITH planted AS (
        SELECT doc_id,
               text || CASE
                 WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 WHEN doc_id % 3 = 1 THEN ' call +1 555-123-4567 or ping 10.0.0.1'
                 ELSE ' pay 4111 1111 1111 1111 today' END AS text
        FROM documents
      ), tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM planted
      ), chunks AS (
        SELECT doc_id, w,
               unnest(generate_series(0,
                 greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
        FROM tok
      ), ct AS (
        SELECT doc_id, i, array_to_string(w[i*12+1 : i*12+12], ' ') AS chunk
        FROM chunks
      ), red AS (
        SELECT doc_id, i, __RED__ AS rtext,
               CAST(__CNT__ AS BIGINT) AS c
        FROM ct
      ), npii AS (
        SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_pii FROM red GROUP BY doc_id
      )
      SELECT CAST(r.doc_id AS VARCHAR) AS doc_id,
             CAST(r.i + CAST(floor(r.i / 3.0) AS INT) AS INT) AS offset,
             r.rtext AS text, n.n_pii
      FROM red r JOIN npii n USING (doc_id)
    """.replace("__RED__", _red).replace("__CNT__", _cnt)
    # shared by q73/q77: the recursive CTE replaying all five Lloyd
    # iterations with the engine's exact arithmetic, ending at `fa`
    # (final per-point assignments) + `final` (final centroids).
    kmeans_fa_cte = """
          WITH RECURSIVE
          pts AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
                  FROM embeddings WHERE embedding IS NOT NULL),
          init AS (
            SELECT (row_number() OVER (ORDER BY vec_id) - 1)::INT AS cluster,
                   v AS c
            FROM (SELECT vec_id, v FROM pts ORDER BY vec_id LIMIT 8)),
          kc(iter, cluster, c) AS (
            SELECT 0, cluster, c FROM init
            UNION ALL
            SELECT iter + 1, cluster, c FROM (
              WITH prev AS (SELECT * FROM kc),
              dists AS (
                SELECT p.vec_id, p.v, pr.cluster,
                       list_sum([(p.v[i] - pr.c[i]) * (p.v[i] - pr.c[i])
                                 for i in generate_series(1, len(p.v))]) AS dist
                FROM pts p, prev pr),
              assign AS (
                SELECT vec_id, v, cluster FROM (
                  SELECT vec_id, v, cluster,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist, cluster) AS rn
                  FROM dists) WHERE rn = 1),
              upd AS (
                SELECT a.cluster, i.i AS dim,
                       SUM(CAST(round(a.v[i.i] * 1000000) AS BIGINT)) AS s,
                       COUNT(*) AS n
                FROM assign a, generate_series(1, 64) i(i)
                GROUP BY 1, 2),
              newc AS (
                SELECT cluster, list(s / (n * 1000000.0) ORDER BY dim) AS c
                FROM upd GROUP BY cluster)
              SELECT pr.iter, pr.cluster, COALESCE(n.c, pr.c) AS c
              FROM prev pr LEFT JOIN newc n ON n.cluster = pr.cluster
            ) WHERE iter + 1 <= 5
          ),
          final AS (SELECT cluster, c FROM kc WHERE iter = 5),
          fd AS (
            SELECT p.vec_id, f.cluster,
                   list_sum([(p.v[i] - f.c[i]) * (p.v[i] - f.c[i])
                             for i in generate_series(1, len(p.v))]) AS dist
            FROM pts p, final f),
          fa AS (SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
            FROM fd) WHERE rn = 1)
    """
    # q22: sign-pattern bucket + the p+1 probe buckets (exact bucket, then
    # every single-bit flip), exactly similarity.lsh_topk's probe set.
    q22_planes = _q22_planes()
    q22_p = len(q22_planes)
    q22_probe_list = "[qb" + "".join(f", xor(qb, {1 << i})" for i in range(q22_p)) + "]"
    q22_sql = f"""
      WITH sig AS (
        SELECT vec_id, embedding, {_bucket_sql(q22_planes)} AS bucket FROM embeddings),
      q AS (
        SELECT vec_id AS q_id, embedding AS q_vec, bucket AS qb
        FROM sig WHERE vec_id < 10),
      probes AS (
        SELECT q_id, q_vec, unnest({q22_probe_list}) AS bucket FROM q),
      scored AS (
        SELECT p.q_id, s.vec_id AS neighbor_id,
               round({_cos_sql('s.embedding', 'p.q_vec')}, 6) AS score
        FROM sig s JOIN probes p ON s.bucket = p.bucket
        WHERE s.vec_id <> p.q_id)
      SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
        SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC) AS rank
        FROM scored)
      WHERE rank <= 10
    """
    from horus_spark.operators.textstats import SUBWORD_RE

    subword_re_sql = SUBWORD_RE.replace("'", "''")
    q08_sql = """
          WITH actual AS (
            SELECT l_orderkey,
                   CAST(round(sum(CAST(l_extendedprice*(1-l_discount)*(1+l_tax) AS DECIMAL(30,10))),2) AS DOUBLE) AS actual_total,
                   count(*) AS n_lines,
                   sum(CASE WHEN l_quantity > 1 THEN 1 ELSE 0 END) AS n_lines_ok
            FROM lineitem GROUP BY 1)
          SELECT o_orderkey,
                 CAST(CASE WHEN round(o_totalprice,2) = actual_total THEN 20 ELSE 0 END AS BIGINT) AS header_points,
                 CAST((80 // n_lines) * n_lines_ok AS BIGINT) AS line_points,
                 CAST(CASE WHEN round(o_totalprice,2) = actual_total THEN 20 ELSE 0 END
                      + (80 // n_lines) * n_lines_ok AS BIGINT) AS score
          FROM orders JOIN actual ON o_orderkey = l_orderkey
        """
    qstats = rf"""
      SELECT CAST(doc_id AS VARCHAR) AS doc_id,
             CASE WHEN len(trim(text))=0 THEN 0 ELSE len({toks}) END AS n_tok,
             len(list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> list_contains({_STOPWORDS_SQL}, x)))
               * 1.0 / greatest(len({toks}), 1) AS stop_ratio,
             (length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g'))) * 1.0
               / greatest(length(text),1) AS punct_ratio
      FROM documents
    """
    recrawl_sql = """
          WITH d AS (
            SELECT CAST(doc_id AS BIGINT) AS n FROM documents
          ), prev AS (
            SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/p/' || CAST(n AS VARCHAR) AS url,
              'd' || CAST(n AS VARCHAR) AS dg
            FROM d
          ), curr AS (
            SELECT url,
              CASE WHEN n % 3 = 0 THEN 'm' || CAST(n AS VARCHAR)
                   ELSE dg END AS dg
            FROM prev WHERE n % 7 <> 0
            UNION ALL
            SELECT 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/new/' || CAST(n AS VARCHAR),
              'x' || CAST(n AS VARCHAR)
            FROM d WHERE n % 5 = 0
          ), allu AS (
            SELECT coalesce(p.url, c.url) AS url, p.dg AS pd, c.dg AS cd
            FROM prev p FULL OUTER JOIN curr c ON p.url = c.url
          ), v AS (
            SELECT regexp_extract(url, '^https://([^/]+)', 1) AS host,
              CASE WHEN pd IS NULL THEN 'new'
                   WHEN cd IS NULL THEN 'gone'
                   WHEN pd = cd THEN 'unchanged'
                   ELSE 'modified' END AS status
            FROM allu
          ), agg AS (
            SELECT host,
              sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS n_new,
              sum(CASE WHEN status = 'gone' THEN 1 ELSE 0 END) AS n_gone,
              sum(CASE WHEN status = 'modified' THEN 1 ELSE 0 END)
                AS n_modified,
              sum(CASE WHEN status = 'unchanged' THEN 1 ELSE 0 END)
                AS n_unchanged
            FROM v GROUP BY host
          )
          SELECT host, n_new, n_gone, n_modified, n_unchanged,
            CASE WHEN n_new + n_modified + n_unchanged = 0 THEN 0
                 ELSE (n_new + n_modified) * 1000000
                      // (n_new + n_modified + n_unchanged) END
              AS change_ppm
          FROM agg
        """
    hdr_sql = """
          WITH v AS (
            SELECT source, CAST(n_chars AS BIGINT) AS val FROM documents
            WHERE n_chars IS NOT NULL),
          bk AS (
            SELECT source,
                   CASE WHEN val < 16 THEN val
                        ELSE CAST((length(bin(val)) - 1 - 4 + 1) AS BIGINT) * 16
                             + ((val - (CAST(1 AS BIGINT)
                                        << (length(bin(val)) - 1)))
                                >> (length(bin(val)) - 1 - 4))
                   END AS bucket
            FROM v),
          sk AS (SELECT source, bucket, count(*) AS c FROM bk GROUP BY 1, 2),
          cum AS (
            SELECT source, bucket,
                   sum(c) OVER (PARTITION BY source ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cum,
                   sum(c) OVER (PARTITION BY source) AS n
            FROM sk),
          qq AS (SELECT * FROM (VALUES (250000), (500000), (900000),
                                       (990000)) AS q(q_ppm)),
          probe AS (
            SELECT source, bucket, cum, n, q_ppm,
                   greatest((CAST(q_ppm AS BIGINT) * n + 999999) // 1000000,
                            1) AS r
            FROM cum, qq),
          hit AS (
            SELECT source, q_ppm, min(bucket) AS b, max(n) AS n
            FROM probe WHERE cum >= r GROUP BY 1, 2)
          SELECT source, CAST(q_ppm AS INT) AS q_ppm,
                 CASE WHEN b < 32 THEN CAST(b AS BIGINT)
                      ELSE (CAST(1 AS BIGINT) << (CAST(b // 16 AS INT) + 3))
                           + ((b % 16) << (CAST(b // 16 AS INT) - 1))
                 END AS est,
                 CAST(n AS BIGINT) AS n
          FROM hit
        """
    # q142's full train->apply classifier replay, reused verbatim as
    # q145's scoring stage (oracle composition mirrors the Spark one)
    clf_sql = f"""
          WITH d AS (
            SELECT doc_id,
                   CASE WHEN trim(coalesce(text, '')) = ''
                        THEN CAST([] AS VARCHAR[])
                        ELSE string_split_regex(trim(coalesce(text, '')), '\\s+')
                   END AS toks,
                   CASE WHEN coalesce(lang, '') = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
          g AS (
            SELECT doc_id, y,
                   toks || list_transform(range(1, len(toks)),
                                          i -> toks[i] || ' ' || toks[i+1])
                     AS grams
            FROM d),
          fb AS (
            SELECT doc_id, y,
                   CAST(CAST(concat('0x', substring(md5(gr || 'clf'), 1, 15))
                        AS BIGINT) % {_CLF_B} AS INT) AS bucket
            FROM (SELECT doc_id, y, unnest(grams) AS gr FROM g)),
          c AS (SELECT bucket, sum(y) AS pos, sum(1 - y) AS neg
                FROM fb GROUP BY 1),
          t AS (SELECT CAST(sum(pos) AS DOUBLE) AS pos_tot,
                       CAST(sum(neg) AS DOUBLE) AS neg_tot FROM c),
          nd AS (SELECT CAST(sum(y) AS DOUBLE) AS n_pos,
                        CAST(sum(1 - y) AS DOUBLE) AS n_neg FROM d),
          w AS (SELECT bucket,
                       CAST(round((ln((pos + 1.0) / (pos_tot + {_CLF_B}.0))
                                 - ln((neg + 1.0) / (neg_tot + {_CLF_B}.0)))
                                  * 1e6) AS BIGINT) AS wm
                FROM c, t),
          bias AS (SELECT CAST(round(ln((n_pos + 1.0) / (n_neg + 1.0)) * 1e6)
                          AS BIGINT) AS b FROM nd),
          u AS (SELECT CAST(round((ln(neg_tot + {_CLF_B}.0)
                                 - ln(pos_tot + {_CLF_B}.0)) * 1e6)
                       AS BIGINT) AS uw FROM t),
          s AS (
            SELECT fb.doc_id, count(*) AS nf,
                   sum(coalesce(w.wm, u.uw)) AS ssum
            FROM fb LEFT JOIN w USING (bucket), u
            GROUP BY 1)
          SELECT d.doc_id, CAST(coalesce(s.nf, 0) AS BIGINT) AS n_feats,
                 CAST(bias.b + coalesce(s.ssum, 0) AS BIGINT) AS score_micro,
                 (bias.b + coalesce(s.ssum, 0)) >= 0 AS keep
          FROM d LEFT JOIN s USING (doc_id), bias
        """

    # q171: the q167 span machinery parameterized per UL2 denoiser
    # class (same hash positions + gaps-and-islands union), S-class as
    # a closed-form tail span; class routing by md5(doc) % 3.
    def _ul2_span_sql(rate: int, mn: int, md: int, cls: int, tag: str) -> str:
        return f"""
            SELECT id, '{tag}' AS denoiser,
                   CAST(row_number() OVER (PARTITION BY id ORDER BY s)
                        - 1 AS INT) AS mask_id,
                   CAST(s AS INT) AS span_start,
                   CAST(e AS INT) AS span_end,
                   CAST(e - s AS INT) AS n_masked
            FROM (
              SELECT id, g, min(s) AS s, max(e) AS e FROM (
                SELECT id, s, e,
                       sum(brk) OVER (PARTITION BY id ORDER BY s) AS g
                FROM (
                  SELECT id, s, e,
                         CASE WHEN s <= max(e) OVER (PARTITION BY id
                                ORDER BY s ROWS BETWEEN UNBOUNDED
                                PRECEDING AND 1 PRECEDING)
                              THEN 0 ELSE 1 END AS brk
                  FROM (
                    SELECT id, p AS s,
                           CAST(least(p + {mn} + (hv // {rate}) % {md},
                                nt) AS INT) AS e
                    FROM hcls
                    WHERE hv % {rate} = 0 AND cls = {cls})))
              GROUP BY 1, 2)
        """

    ul2_sql = f"""
          WITH d AS (
            SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS sid,
                   string_split(trim(regexp_replace(text, '\\s+', ' ',
                     'g')), ' ') AS w
            FROM documents
          ), cd AS (
            SELECT id, sid, w,
                   CAST(concat('0x', substring(md5(sid), 1, 15))
                        AS BIGINT) % 3 AS cls
            FROM d
          ), pos AS (
            SELECT id, sid, cls, CAST(g.p AS INT) AS p,
                   CAST(len(w) AS INT) AS nt
            FROM cd, unnest(generate_series(0, len(w) - 1)) AS g(p)
          ), hcls AS (
            SELECT id, cls, p, nt,
                   CAST(concat('0x', substring(md5(sid || ':' || p),
                     1, 15)) AS BIGINT) AS hv
            FROM pos
          )
          SELECT * FROM ({_ul2_span_sql(20, 2, 3, 0, 'R')})
          UNION ALL
          SELECT id, 'S' AS denoiser, 0 AS mask_id,
                 CAST(nt - greatest(nt // 4, 1) AS INT) AS span_start,
                 CAST(nt AS INT) AS span_end,
                 CAST(greatest(nt // 4, 1) AS INT) AS n_masked
          FROM (SELECT id, cls, CAST(len(w) AS INT) AS nt FROM cd)
          WHERE cls = 1 AND nt > 0
          UNION ALL
          SELECT * FROM ({_ul2_span_sql(10, 8, 8, 2, 'X')})
        """
    return {
        "q01_pricing_summary": """
          SELECT l_returnflag, l_linestatus,
                 CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_qty,
                 CAST(round(sum(CAST(l_extendedprice AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_base_price,
                 CAST(round(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10))),2) AS DOUBLE) AS sum_disc_price,
                 CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10)))/count(*),4) AS DOUBLE) AS avg_qty,
                 CAST(round(sum(CAST(l_discount AS DECIMAL(30,10)))/count(*),4) AS DOUBLE) AS avg_disc,
                 count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= TIMESTAMP '2026-06-01'
          GROUP BY 1,2 ORDER BY 1,2
        """,
        "q02_totals_chain": """
          WITH l AS (
            SELECT l_orderkey,
                   CAST(l_extendedprice*(1-l_discount) AS DECIMAL(30,10)) AS dgv,
                   CAST(CASE WHEN l_tax>0 THEN l_extendedprice*(1-l_discount) ELSE 0 END AS DECIMAL(30,10)) AS txv
            FROM lineitem)
          SELECT l_orderkey,
                 CAST(round(sum(dgv),2) AS DOUBLE) AS pre_tax_total,
                 CAST(round(sum(txv)*CAST('0.19' AS DECIMAL(10,2)),2) AS DOUBLE) AS tax_total,
                 CAST(round(sum(dgv)*CAST('0.15' AS DECIMAL(10,2)),2) AS DOUBLE) AS shipping_total,
                 CAST(round(sum(dgv)*CAST('1.15' AS DECIMAL(10,2)) + sum(txv)*CAST('0.19' AS DECIMAL(10,2)),2) AS DOUBLE) AS grand_total
          FROM l GROUP BY 1
        """,
        "q03_latest_per_key": """
          SELECT o_custkey, o_orderkey, o_orderdate, round(o_totalprice,2) AS latest_total
          FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders)
          WHERE rn = 1
        """,
        "q04_region_revenue": """
          SELECT r_name, CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue, count(*) AS n_orders
          FROM orders JOIN customer ON o_custkey=c_custkey
          JOIN nation ON c_nationkey=n_nationkey
          JOIN region ON n_regionkey=r_regionkey
          GROUP BY 1 ORDER BY 1
        """,
        "q05_versioning": """
          SELECT event_id, user_id,
                 CAST(row_number() OVER w AS INT) AS doc_version,
                 row_number() OVER w = count(*) OVER (PARTITION BY user_id) AS latest_version_indicator
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "q06_tax_period": """
          SELECT CAST(year(o_orderdate) AS VARCHAR) || CAST(month(o_orderdate) AS VARCHAR) AS tax_period,
                 count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS total
          FROM orders GROUP BY 1
        """,
        "q07_error_taxonomy": """
          SELECT CASE WHEN l_discount = 0 THEN 'PRE0004'
                      WHEN l_quantity <= 1 THEN 'PRE0002'
                      WHEN l_tax = 0 THEN 'PRE0001' ELSE 'OK' END AS error_code,
                 CASE WHEN l_discount = 0 THEN 'Warning'
                      WHEN l_quantity <= 1 THEN 'Terminal'
                      WHEN l_tax = 0 THEN 'Warning' ELSE 'Observation' END AS severity,
                 count(*) AS n
          FROM lineitem GROUP BY 1,2
        """,
        "q08_accuracy_score": q08_sql,
        "q09_sessionize": """
          WITH s AS (
            SELECT user_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                        OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS new_session
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
          SELECT user_id, CAST(sum(new_session) AS INT) AS n_sessions, count(*) AS n_events,
                 CAST(round(sum(CAST(value AS DECIMAL(30,10))),2) AS DOUBLE) AS total_value
          FROM s GROUP BY user_id
        """,
        "q10_dedup_exact": """
          WITH h AS (SELECT CAST(doc_id AS VARCHAR) AS id, md5(text) AS thumbprint FROM documents),
          g AS (SELECT thumbprint, min(id) AS canonical_id, count(*) AS group_size FROM h GROUP BY 1)
          SELECT id, h.thumbprint, canonical_id, id <> canonical_id AS is_duplicate
          FROM h JOIN g ON h.thumbprint = g.thumbprint
        """,
        "q11_ngram_jaccard": shingle_cte + """
          , pairs AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1,2)
          SELECT id_a, id_b,
                 round(inter * 1.0 / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
          FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
          WHERE inter * 1.0 / (sa.n_sh + sb.n_sh - inter) >= 0.12
        """,
        # q139: INDEPENDENT oracle for the prefix-filter exact SSJoin —
        # a plain unfiltered all-pairs join over the same shingle sets
        # with the same integer-ppm threshold test; if the prefix filter
        # dropped any qualifying pair (or admitted a junk one) the row
        # sets diverge.
        "q139_prefix_jaccard": shingle_cte + """
          , pairs AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1,2)
          SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
                 CAST(sa.n_sh + sb.n_sh - inter AS BIGINT) AS union_,
                 CAST((inter * 1000000) // (sa.n_sh + sb.n_sh - inter) AS BIGINT) AS jaccard_ppm
          FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
          WHERE inter * 1000000 >= 500000 * (sa.n_sh + sb.n_sh - inter)
        """,
        # q140: the same per-length gram generation + dictionary join in
        # SQL — positions are 1-based token indexes, grams built only for
        # the lengths present in the dictionary (1/2/3)
        "q140_gazetteer": """
          WITH dict AS (
            SELECT * FROM (VALUES """ + ", ".join(
            f"('{p}', '{l}', {len(p.split())})" for p, l in _GAZETTEER
        ) + """) AS v(phrase, label, nw)),
          tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   list_filter(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                               x -> x <> '') AS t
            FROM documents),
          g AS (
            SELECT doc_id, 1 AS nw,
                   unnest([{'pos': i, 'gram': t[i]}
                           for i in generate_series(1, len(t))], recursive := true)
            FROM tok
            UNION ALL
            SELECT doc_id, 2,
                   unnest([{'pos': i, 'gram': t[i] || ' ' || t[i+1]}
                           for i in generate_series(1, len(t)-1)], recursive := true)
            FROM tok
            UNION ALL
            SELECT doc_id, 3,
                   unnest([{'pos': i, 'gram': t[i] || ' ' || t[i+1] || ' ' || t[i+2]}
                           for i in generate_series(1, len(t)-2)], recursive := true)
            FROM tok)
          SELECT g.doc_id, d.phrase, d.label, CAST(g.pos AS INT) AS start,
                 CAST(g.pos + g.nw - 1 AS INT) AS end_, CAST(g.nw AS INT) AS n_words
          FROM g JOIN dict d ON d.phrase = g.gram AND d.nw = g.nw
        """,
        "q141_cms_freq": """
          WITH tok AS (
            SELECT unnest(list_filter(
                     string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'),
                     x -> x <> '')) AS v
            FROM documents),
          cells AS (
            SELECT g.i AS row_i,
                   CAST(CAST(concat('0x', substring(
                          md5(v || 'cms' || CAST(g.i AS VARCHAR)), 1, 15))
                        AS BIGINT) % """ + str(_CMS_W) + """ AS INT) AS col_j
            FROM tok, generate_series(0, """ + str(_CMS_D - 1) + """) AS g(i)),
          sketch AS (
            SELECT row_i, col_j, count(*) AS c FROM cells GROUP BY 1, 2),
          probes AS (
            SELECT * FROM (VALUES """ + ", ".join(
            f"('{p}')" for p in _CMS_PROBES
        ) + """) AS p(key)),
          pc AS (
            SELECT key, g.i AS row_i,
                   CAST(CAST(concat('0x', substring(
                          md5(key || 'cms' || CAST(g.i AS VARCHAR)), 1, 15))
                        AS BIGINT) % """ + str(_CMS_W) + """ AS INT) AS col_j
            FROM probes, generate_series(0, """ + str(_CMS_D - 1) + """) AS g(i))
          SELECT key, min(CAST(coalesce(s.c, 0) AS BIGINT)) AS est
          FROM pc LEFT JOIN sketch s USING (row_i, col_j)
          GROUP BY key
        """,
        "q142_classifier": clf_sql,
        "q143_hdr_quantiles": hdr_sql,
        "q150_outlier_gate": f"""
          WITH qq2 AS (
            SELECT source, est AS q_est
            FROM ({hdr_sql}) WHERE q_ppm = 990000)
          SELECT d.doc_id, d.source, d.n_chars, qq2.q_est,
                 coalesce(CAST(d.n_chars AS BIGINT) > qq2.q_est, FALSE)
                   AS outlier
          FROM documents d LEFT JOIN qq2 USING (source)
        """,
        "q151_zipf_fit": """
          WITH tok AS (
            SELECT unnest(list_filter(
                     string_split_regex(trim(lower(coalesce(text, ''))),
                                        '\\s+'),
                     x -> x <> '')) AS t
            FROM documents),
          c AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
          top AS (SELECT t, c FROM c ORDER BY c DESC, t ASC LIMIT 10000),
          rk AS (SELECT c,
                        row_number() OVER (ORDER BY c DESC, t ASC) AS r
                 FROM top),
          xy AS (SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1e6) AS BIGINT)
                          AS x,
                        CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)
                          AS y
                 FROM rk),
          m AS (SELECT count(*) AS n,
                       sum(CAST(x AS HUGEINT)) AS sx,
                       sum(CAST(y AS HUGEINT)) AS sy,
                       sum(CAST(x AS HUGEINT) * y) AS sxy,
                       sum(CAST(x AS HUGEINT) * x) AS sxx
                FROM xy)
          SELECT CAST(n AS BIGINT) AS n_ranks,
                 CAST(CASE
                   WHEN n < 2 OR (n * sxx - sx * sx) = 0 THEN NULL
                   WHEN (n * sxy - sx * sy) < 0
                   THEN -((-(n * sxy - sx * sy) * 1000000)
                          // (n * sxx - sx * sx))
                   ELSE ((n * sxy - sx * sy) * 1000000)
                        // (n * sxx - sx * sx)
                 END AS BIGINT) AS slope_micro
          FROM m
        """,
        "q152_rate_anomalies": """
          WITH ev AS (
            SELECT event_type AS k,
                   CAST(floor(epoch(ts)) AS BIGINT) AS es
            FROM events
            UNION ALL
            SELECT 'error', 1704258000 + (event_id % 60) * 60
            FROM events WHERE event_id % 97 = 0),
          base AS (
            SELECT k, ((es // 3600) * 3600)::BIGINT AS bucket_start
            FROM ev),
          agg AS (SELECT k, bucket_start, count(*)::BIGINT AS n
                  FROM base GROUP BY 1, 2),
          span AS (SELECT min(bucket_start) AS lo, max(bucket_start) AS hi
                   FROM base),
          dims AS (
            SELECT k,
                   unnest(generate_series(span.lo, span.hi, 3600))::BIGINT
                     AS bucket_start
            FROM (SELECT DISTINCT k FROM base), span),
          j AS (
            SELECT d.k, d.bucket_start, COALESCE(a.n, 0)::BIGINT AS n
            FROM dims d LEFT JOIN agg a
              ON a.k = d.k AND a.bucket_start = d.bucket_start),
          wnd AS (
            SELECT k, bucket_start, n,
                   sum(n) OVER (PARTITION BY k ORDER BY bucket_start
                                ROWS BETWEEN 24 PRECEDING
                                AND 1 PRECEDING) AS tsum,
                   count(n) OVER (PARTITION BY k ORDER BY bucket_start
                                  ROWS BETWEEN 24 PRECEDING
                                  AND 1 PRECEDING) AS tn
            FROM j)
          SELECT k AS event_type, bucket_start, n AS n_events,
                 CAST(CASE WHEN tn = 24 THEN tsum END AS BIGINT)
                   AS trailing_sum,
                 (tn = 24 AND n >= 10
                  AND CAST(n AS HUGEINT) * 24 * 1000000
                      > CAST(3000000 AS HUGEINT) * tsum) AS flagged
          FROM wnd
        """,
        "q153_cdc_dedup": """
          WITH src AS (
            SELECT doc_id AS id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000000,
                   'inserted preamble words ' || text
            FROM documents WHERE doc_id % 13 = 0),
          nrm AS (
            SELECT id,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                     lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g')) AS t
            FROM src),
          tok AS (
            SELECT id, string_split(t, ' ') AS w
            FROM nrm WHERE len(replace(t, ' ', '')) > 0),
          bnd AS (
            SELECT id, w,
                   [i for i in generate_series(2, len(w) - 2)
                    if CAST(concat('0x', substring(
                         md5(array_to_string(w[i - 1 : i + 1], ' ')),
                         1, 15)) AS BIGINT) % 8 = 0] AS bpos
            FROM tok),
          segs AS (
            SELECT id, w,
                   [0] || list_transform(bpos, p -> p + 1) AS starts,
                   bpos || [len(w) - 1] AS ends
            FROM bnd),
          ch AS (
            SELECT id,
                   unnest(list_transform(generate_series(1, len(starts)),
                     j -> struct_pack(
                            nt := ends[j] - starts[j] + 1,
                            dg := md5(array_to_string(
                                    w[starts[j] + 1 : ends[j] + 1], ' ')))),
                     recursive := true)
            FROM segs),
          cnt AS (SELECT dg, count(DISTINCT id) AS nd FROM ch GROUP BY 1)
          SELECT ch.id AS doc_id,
                 count(*)::BIGINT AS n_chunks,
                 sum(CASE WHEN cnt.nd > 1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_dup_chunks,
                 sum(ch.nt)::BIGINT AS n_tokens,
                 CAST(sum(CASE WHEN cnt.nd > 1 THEN ch.nt ELSE 0 END)
                      * 1000000 // greatest(sum(ch.nt), 1) AS BIGINT)
                   AS dup_token_ppm
          FROM ch JOIN cnt USING (dg)
          GROUP BY 1
        """,
        "q154_hll_wave_overlap": """
          WITH d AS (SELECT CAST(doc_id AS BIGINT) AS nn FROM documents),
          prev AS (
            SELECT 'site-' || CAST(nn % 50 AS VARCHAR) || '.test' AS host,
                   'https://site-' || CAST(nn % 50 AS VARCHAR)
                     || '.test/p/' || CAST(nn AS VARCHAR) AS url
            FROM d),
          curr AS (
            SELECT 'site-' || CAST(nn % 50 AS VARCHAR) || '.test' AS host,
                   'https://site-' || CAST(nn % 50 AS VARCHAR)
                     || '.test/p/' || CAST(nn AS VARCHAR) AS url
            FROM d WHERE nn % 7 <> 0
            UNION ALL
            SELECT 'site-' || CAST(nn % 50 AS VARCHAR) || '.test',
                   'https://site-' || CAST(nn % 50 AS VARCHAR)
                     || '.test/new/' || CAST(nn AS VARCHAR)
            FROM d WHERE nn % 5 = 0),
          ra AS (
            SELECT host, hv >> 54 AS reg,
                   max(CASE WHEN (hv & 18014398509481983) = 0 THEN 55
                        ELSE 55 - length(bin(hv & 18014398509481983))
                       END) AS m
            FROM (SELECT host, CAST(concat('0x',
                    substring(md5(url), 1, 15)) AS BIGINT) AS hv FROM prev)
            GROUP BY 1, 2),
          rb AS (
            SELECT host, hv >> 54 AS reg,
                   max(CASE WHEN (hv & 18014398509481983) = 0 THEN 55
                        ELSE 55 - length(bin(hv & 18014398509481983))
                       END) AS m
            FROM (SELECT host, CAST(concat('0x',
                    substring(md5(url), 1, 15)) AS BIGINT) AS hv FROM curr)
            GROUP BY 1, 2),
          ru AS (
            SELECT host, reg, max(m) AS m
            FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
            GROUP BY 1, 2),
          ea AS (
            SELECT host, round(CASE WHEN e_raw <= 160.0 AND v < 64
                   THEN 64.0 * ln(64.0 / (64 - v)) ELSE e_raw END, 4) AS e
            FROM (SELECT host, count(*) AS v,
                         0.709 * 4096.0
                         / (sum(CAST(pow(2.0, 55 - m) AS BIGINT))
                            / 36028797018963968.0 + (64 - count(*)))
                           AS e_raw
                  FROM ra GROUP BY 1)),
          eb AS (
            SELECT host, round(CASE WHEN e_raw <= 160.0 AND v < 64
                   THEN 64.0 * ln(64.0 / (64 - v)) ELSE e_raw END, 4) AS e
            FROM (SELECT host, count(*) AS v,
                         0.709 * 4096.0
                         / (sum(CAST(pow(2.0, 55 - m) AS BIGINT))
                            / 36028797018963968.0 + (64 - count(*)))
                           AS e_raw
                  FROM rb GROUP BY 1)),
          eu AS (
            SELECT host, round(CASE WHEN e_raw <= 160.0 AND v < 64
                   THEN 64.0 * ln(64.0 / (64 - v)) ELSE e_raw END, 4) AS e
            FROM (SELECT host, count(*) AS v,
                         0.709 * 4096.0
                         / (sum(CAST(pow(2.0, 55 - m) AS BIGINT))
                            / 36028797018963968.0 + (64 - count(*)))
                           AS e_raw
                  FROM ru GROUP BY 1))
          SELECT eu.host,
                 round(coalesce(ea.e, 0.0), 4) AS est_a,
                 round(coalesce(eb.e, 0.0), 4) AS est_b,
                 eu.e AS est_union,
                 round(greatest(coalesce(ea.e, 0.0) + coalesce(eb.e, 0.0)
                                - eu.e, 0.0), 4) AS est_intersection,
                 round(CASE WHEN eu.e > 0.0
                       THEN greatest(coalesce(ea.e, 0.0)
                                     + coalesce(eb.e, 0.0) - eu.e, 0.0)
                            / eu.e
                       ELSE 0.0 END, 6) AS jaccard
          FROM eu LEFT JOIN ea ON ea.host = eu.host
                  LEFT JOIN eb ON eb.host = eu.host
        """,
        "q155_sitemap_coverage": """
          WITH d AS (SELECT CAST(doc_id AS BIGINT) AS nn FROM documents),
          listed AS (
            SELECT DISTINCT
                   'site-' || CAST(nn % 50 AS VARCHAR) || '.test' AS host,
                   'https://site-' || CAST(nn % 50 AS VARCHAR)
                     || '.test/p/' || CAST(nn AS VARCHAR) AS url
            FROM d WHERE nn % 3 <> 2),
          crawled AS (
            SELECT DISTINCT host, url FROM (
              SELECT 'site-' || CAST(nn % 50 AS VARCHAR) || '.test' AS host,
                     'https://site-' || CAST(nn % 50 AS VARCHAR)
                       || '.test/p/' || CAST(nn AS VARCHAR) AS url
              FROM d WHERE nn % 7 <> 0
              UNION ALL
              SELECT 'site-' || CAST(nn % 50 AS VARCHAR) || '.test',
                     'https://site-' || CAST(nn % 50 AS VARCHAR)
                       || '.test/extra/' || CAST(nn AS VARCHAR)
              FROM d WHERE nn % 11 = 0)),
          j AS (
            SELECT coalesce(l.host, c.host) AS host,
                   CASE WHEN l.url IS NOT NULL THEN 1 ELSE 0 END AS lf,
                   CASE WHEN c.url IS NOT NULL THEN 1 ELSE 0 END AS cf
            FROM listed l FULL JOIN crawled c
              ON l.host = c.host AND l.url = c.url),
          agg AS (
            SELECT host, sum(lf)::BIGINT AS n_listed,
                   sum(cf)::BIGINT AS n_crawled,
                   sum(lf * cf)::BIGINT AS n_both
            FROM j GROUP BY 1)
          SELECT host, n_listed, n_crawled, n_both,
                 (n_listed - n_both)::BIGINT AS listed_not_crawled,
                 (n_crawled - n_both)::BIGINT AS crawled_not_listed,
                 CAST(n_both * 1000000 // greatest(n_listed, 1) AS BIGINT)
                   AS coverage_ppm,
                 CAST((n_crawled - n_both) * 1000000
                      // greatest(n_crawled, 1) AS BIGINT)
                   AS discovery_ppm
          FROM agg
        """,
        "q157_robots_audit": """
          WITH d AS (SELECT CAST(doc_id AS BIGINT) AS nn FROM documents),
          crawled AS (
            SELECT nn % 50 AS k, 0 AS viol FROM d
            UNION ALL
            SELECT nn % 50,
                   CASE WHEN (nn % 50) % 3 = 0 THEN 1 ELSE 0 END
            FROM d WHERE nn % 4 = 0
            UNION ALL
            SELECT nn % 50, 0 FROM d WHERE nn % 6 = 0)
          SELECT 'site-' || CAST(k AS VARCHAR) || '.test' AS domain,
                 count(*)::BIGINT AS n_crawled,
                 sum(viol)::BIGINT AS n_violations,
                 CAST(sum(viol) * 1000000 // count(*) AS BIGINT)
                   AS violation_ppm
          FROM crawled GROUP BY 1
        """,
        # GROUND TRUTH: expected cell rows derived straight from the
        # synthesis rules — never from the regex parse under test.
        "q158_html_tables": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
            WHERE CAST(doc_id AS BIGINT) % 7 <> 0
          ), c AS (SELECT 0 AS c UNION ALL SELECT 1),
          hdr AS (
            SELECT doc_id, 0 AS table_pos, 0 AS row_pos, c.c AS col_pos,
                   TRUE AS is_header,
                   CASE WHEN c.c = 0 THEN 'key' ELSE 'value' END
                     AS cell_text
            FROM d, c
          ), data AS (
            SELECT doc_id, 0 AS table_pos, CAST(g.r + 1 AS INT)
                     AS row_pos,
                   c.c AS col_pos, FALSE AS is_header,
                   CASE WHEN c.c = 0 THEN 'r' || g.r
                        ELSE 'v ' || (n * 7 + g.r) END AS cell_text
            FROM d,
                 unnest(generate_series(0, CAST(1 + n % 3 AS INT)))
                   AS g(r),
                 c
          ), extra AS (
            SELECT doc_id, 1 AS table_pos, 0 AS row_pos, c.c AS col_pos,
                   FALSE AS is_header,
                   CASE WHEN c.c = 0 THEN 'only ' || n ELSE '' END
                     AS cell_text
            FROM d, c WHERE n % 5 = 0
          )
          SELECT doc_id, CAST(table_pos AS INT) AS table_pos,
                 CAST(row_pos AS INT) AS row_pos,
                 CAST(col_pos AS INT) AS col_pos,
                 is_header, cell_text
          FROM (SELECT * FROM hdr UNION ALL SELECT * FROM data
                UNION ALL SELECT * FROM extra)
        """,
        # GROUND TRUTH: surviving entries derived from the synthesis
        # rules; positions rank ALL entries (dropped ones unshift none).
        "q159_feed_parse": """
          WITH d AS (
            SELECT CAST(doc_id AS BIGINT) AS n,
                   CAST(doc_id AS BIGINT) % 50 AS k
            FROM documents
          ), pos AS (
            SELECT n, k,
                   CAST(row_number() OVER (PARTITION BY k ORDER BY n)
                        - 1 AS INT) AS entry_pos
            FROM d
          )
          SELECT 'feed-' || CAST(k AS VARCHAR) AS src, entry_pos,
                 CASE WHEN k % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
                 'Post ' || n AS title,
                 'https://site-' || CAST(k AS VARCHAR) || '.test/post/'
                   || n AS link,
                 CASE WHEN n % 5 = 0 THEN NULL
                      WHEN k % 2 = 0 THEN 'tag-' || n
                      ELSE 'urn:' || n END AS guid,
                 CASE WHEN n % 3 = 0 THEN NULL
                      WHEN k % 2 = 0 THEN '2026-07-'
                        || lpad(CAST(n % 28 + 1 AS VARCHAR), 2, '0')
                      WHEN n % 7 = 0 THEN 'U' || n
                      ELSE 'P' || n END AS published
          FROM pos WHERE n % 6 <> 0
        """,
        # the EXHAUSTIVE scorer: the pruned plan must reproduce it
        # bit-identically (same arithmetic as q52's oracle).
        "q160_maxscore_topk": """
          WITH norm AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   trim(regexp_replace(regexp_replace(regexp_replace(
                     lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '',
                     'g'), ' +', ' ', 'g')) AS t
            FROM documents
          ), base AS (
            SELECT id,
                   CASE WHEN length(t) > 0
                        THEN len(string_split(t, ' ')) ELSE 0 END AS dl,
                   string_split(t, ' ') AS w
            FROM norm
          ), stats AS (
            SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl FROM base
          ), matched AS (
            SELECT id, dl, unnest(w) AS term FROM base
          ), tf AS (
            SELECT id, dl, term, count(*) AS tf FROM matched
            WHERE term IN ('dup', 'scan', 'merge', 'filter')  -- q160
            GROUP BY 1, 2, 3
          ), dft AS (
            SELECT term, count(*) * 1.0 AS df FROM tf GROUP BY term
          ), scored AS (
            SELECT tf.id,
                   round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5)
                           + 1.0)
                         * tf.tf * 2.2
                         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                           / s.avgdl))), 6) AS score,
                   count(*) AS n_matched_terms
            FROM tf JOIN dft d ON tf.term = d.term CROSS JOIN stats s
            GROUP BY tf.id
          )
          SELECT id AS doc_id, score, n_matched_terms
          FROM scored ORDER BY score DESC, doc_id ASC LIMIT 25
        """,
        "q161_bloom_dml": """
          WITH merged AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 10 = 4
                        THEN o_totalprice + 2000.0 ELSE o_totalprice END
                     AS o_totalprice
            FROM orders
            UNION ALL
            SELECT * FROM (VALUES (-3, 1, 'Y', 3.5), (-4, 2, 'Y', 4.5))
              AS ins(o_orderkey, o_custkey, o_orderstatus, o_totalprice)
          )
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_custkey AS BIGINT) AS o_custkey,
                 o_orderstatus,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice
          FROM merged WHERE o_orderkey % 9 != 0
        """,
        # GROUND TRUTH: expected sentences rebuilt from the
        # construction rules, never from the splitter under test.
        "q162_sentences": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   string_split(trim(regexp_replace(text, '\\s+', ' ',
                     'g')), ' ') AS w
            FROM documents
          ), s AS (
            SELECT doc_id, n, w,
                   CAST(ceil(len(w) / 7.0) AS INT) AS ns
            FROM d
          ), e AS (
            SELECT doc_id, n, CAST(g.i AS INT) AS sent_pos,
                   list_slice(w, CAST(g.i * 7 + 1 AS INT),
                              CAST(g.i * 7 + 7 AS INT)) AS chunk
            FROM s, unnest(generate_series(0, ns - 1)) AS g(i)
          )
          SELECT doc_id AS id, sent_pos,
                 upper(substr(chunk[1], 1, 1)) || substr(chunk[1], 2)
                 || CASE WHEN len(chunk) > 1
                         THEN ' ' || array_to_string(
                           list_slice(chunk, 2, len(chunk)), ' ')
                         ELSE '' END
                 || CASE WHEN sent_pos % 5 = 0 THEN ' i.e. decoy'
                         ELSE '' END
                 || CASE WHEN sent_pos % 7 = 3 THEN ' 3.14' ELSE '' END
                 || (['.', '!', '?'])[CAST((n + sent_pos) % 3 AS INT) + 1]
                   AS sentence
          FROM e
        """,
        "q171_ul2_plan": ul2_sql,
        "q183_dedup_recall": dedup_recall_sql,
        # q66's recursion with the seed-conditional jump and
        # seed-only dangling redistribution
        "q190_trustrank": """
          WITH RECURSIVE
          edges AS (
            SELECT src, dst FROM (
              SELECT (doc_id % 211)::BIGINT AS src,
                     ((doc_id*31+7) % 211)::BIGINT AS dst FROM documents
              UNION ALL
              SELECT (doc_id % 211)::BIGINT,
                     ((doc_id*17+3) % 211)::BIGINT FROM documents)
            WHERE src % 23 <> 0 GROUP BY src, dst),
          gnodes AS (SELECT DISTINCT node FROM
            (SELECT src AS node FROM edges
             UNION ALL SELECT dst FROM edges)),
          seeds AS (
            SELECT unnest(generate_series(0, 210))::BIGINT AS node
            WHERE TRUE),
          sseeds AS (SELECT node FROM seeds WHERE node % 10 = 0),
          nodes AS (SELECT DISTINCT node FROM
            (SELECT node FROM gnodes UNION ALL SELECT node FROM sseeds)),
          marked AS (
            SELECT n.node,
                   CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS sm
            FROM nodes n LEFT JOIN sseeds s ON s.node = n.node),
          outdeg AS (SELECT src AS node, count(*)::BIGINT AS deg
                     FROM edges GROUP BY 1),
          ns AS (SELECT count(*)::BIGINT AS k FROM sseeds),
          ranks(iter, node, r) AS (
            SELECT 0, m.node,
                   CASE WHEN m.sm = 1
                        THEN (1000000000000 // ns.k)::BIGINT
                        ELSE 0 END
            FROM marked m, ns
            UNION ALL
            SELECT iter + 1, node, r FROM (
              WITH prev AS (SELECT * FROM ranks),
              contrib AS (
                SELECT e.dst AS node, SUM(p.r // o.deg)::BIGINT AS c
                FROM prev p JOIN edges e ON e.src = p.node
                JOIN outdeg o ON o.node = p.node
                GROUP BY 1),
              dangling AS (
                SELECT COALESCE(SUM(p.r), 0)::BIGINT AS d
                FROM prev p LEFT JOIN outdeg o ON o.node = p.node
                WHERE o.node IS NULL)
              SELECT p.iter, p.node,
                (CASE WHEN m.sm = 1
                      THEN (1000000000000
                            - (1000000000000 * 85) // 100) // ns.k
                      ELSE 0 END
                 + ((COALESCE(c.c, 0)
                     + CASE WHEN m.sm = 1 THEN dg.d // ns.k
                            ELSE 0 END) * 85) // 100)::BIGINT AS r
              FROM prev p
              JOIN marked m ON m.node = p.node
              LEFT JOIN contrib c ON c.node = p.node
              CROSS JOIN ns CROSS JOIN dangling dg
            ) WHERE iter + 1 <= 6)
          SELECT node, r AS trust_micro FROM ranks WHERE iter = 6
        """,
        # GROUND TRUTH: all five verdicts from the synthesis rules
        "q189_metadata_agreement": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
          )
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CASE WHEN n % 7 = 0 THEN NULL
                      ELSE 'Page ' || n END AS title,
                 CASE WHEN n % 5 = 0 THEN NULL
                      WHEN n % 6 = 0 THEN 'Other ' || n
                      ELSE 'Page ' || n END AS ld_name,
                 CASE
                   WHEN n % 7 <> 0 AND n % 5 <> 0 THEN
                     CASE WHEN n % 6 = 0 THEN 'disagree' ELSE 'agree'
                     END
                   WHEN n % 7 <> 0 THEN 'meta_only'
                   WHEN n % 5 <> 0 THEN 'ld_only'
                   ELSE 'neither'
                 END AS verdict
          FROM d
        """,
        # GROUND TRUTH: per-channel rows from the synthesis rules
        "q187_microdata": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   CAST(doc_id AS BIGINT) % 50 AS k
            FROM documents
          ), a0 AS (
            SELECT doc_id, 'attr' AS channel, 0 AS pos,
                   'datePublished' AS itemprop,
                   '2026-07-' || lpad(CAST(n % 28 + 1 AS VARCHAR), 2,
                     '0') AS value
            FROM d
          ), a1 AS (
            SELECT doc_id, 'attr', 1, 'url',
                   'https://site-' || k || '.test/p/' || n
            FROM d WHERE n % 2 = 0
          ), a2 AS (
            SELECT doc_id, 'attr',
                   CASE WHEN n % 2 = 0 THEN 2 ELSE 1 END,
                   'score', 'v ' || n
            FROM d WHERE n % 3 = 0
          ), t0 AS (
            SELECT doc_id, 'text', 0, 'author', 'Writer ' || k
            FROM d WHERE n % 4 <> 0
          )
          SELECT doc_id, channel, CAST(pos AS INT) AS pos, itemprop,
                 value
          FROM (SELECT * FROM a0 UNION ALL SELECT * FROM a1
                UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM t0)
        """,
        # GROUND TRUTH: 1 + n%3 ordered alternates; decoy links never
        # match
        "q188_hreflang": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   CAST(doc_id AS BIGINT) % 50 AS k
            FROM documents
          ), j AS (
            SELECT doc_id, n, k, CAST(g.j AS INT) AS pos,
                   (['de', 'fr', 'ja'])[CAST(g.j AS INT) + 1] AS lang
            FROM d,
                 unnest(generate_series(0, CAST(n % 3 AS INT))) AS g(j)
          )
          SELECT doc_id, pos, lang AS hreflang,
                 'https://site-' || k || '.test/' || lang || '/' || n
                   AS href
          FROM j
        """,
        # GROUND TRUTH: expected entity rows from the synthesis rules;
        # the malformed block is an all-NULL row at its position
        "q186_jsonld": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
          ), art AS (
            SELECT doc_id, 0 AS block_pos,
                   'NewsArticle' AS entity_type,
                   'Story ' || n AS name,
                   CASE WHEN n % 3 = 0 THEN NULL
                        ELSE '2026-07-'
                          || lpad(CAST(n % 28 + 1 AS VARCHAR), 2, '0')
                   END AS date_published,
                   CASE WHEN n % 2 = 0 THEN 'Reporter ' || (n % 5)
                        WHEN n % 10 = 5 THEN NULL
                        ELSE 'Desk ' || (n % 5) END AS author_name
            FROM d
          ), org AS (
            SELECT doc_id, 1 AS block_pos, 'Organization' AS entity_type,
                   'Org ' || n AS name, CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR)
            FROM d WHERE n % 4 = 0
          ), bad AS (
            SELECT doc_id,
                   CASE WHEN n % 4 = 0 THEN 2 ELSE 1 END AS block_pos,
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
                   CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
            FROM d WHERE n % 9 = 0
          )
          SELECT doc_id, CAST(block_pos AS INT) AS block_pos,
                 entity_type, name, date_published, author_name
          FROM (SELECT * FROM art UNION ALL SELECT * FROM org
                UNION ALL SELECT * FROM bad)
        """,
        # same counting, df, micro-nat idf snap and top-k window
        "q185_class_labels": """
          WITH w AS (
            SELECT source AS "group",
                   unnest(string_split(trim(regexp_replace(
                     regexp_replace(regexp_replace(lower(text),
                       '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'),
                     ' +', ' ', 'g')), ' ')) AS term
            FROM documents
          ), ww AS (SELECT * FROM w WHERE term <> ''),
          tf AS (
            SELECT "group", term, count(*)::BIGINT AS c
            FROM ww GROUP BY 1, 2 HAVING count(*) >= 2
          ), totals AS (
            SELECT "group", count(*)::BIGINT AS tok FROM ww GROUP BY 1
          ), av AS (
            SELECT sum(tok) * 1.0 / count(*) AS a_tokens FROM totals
          ), freq AS (
            SELECT term, count(*) * 1.0 AS f FROM ww GROUP BY 1
          ), scored AS (
            SELECT tf."group", tf.term,
                   CAST(tf.c * CAST(1000000 AS BIGINT) // t.tok
                        AS BIGINT) AS tf_norm_ppm,
                   CAST(round(ln(1.0 + av.a_tokens / d.f) * 1e6)
                        AS BIGINT) AS idf_micro
            FROM tf JOIN totals t USING ("group")
            JOIN freq d USING (term) CROSS JOIN av
          )
          SELECT "group", CAST(rank AS INT) AS rank, term,
                 tf_norm_ppm, idf_micro,
                 tf_norm_ppm * idf_micro AS score
          FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY "group"
                     ORDER BY tf_norm_ppm * idf_micro DESC, term ASC)
                     AS rank
            FROM scored)
          WHERE rank <= 8
        """,
        "q182_rare_combinations": """
          SELECT lang, source,
                 CAST(n_chars // 500 AS BIGINT) AS len_bucket,
                 count(*)::BIGINT AS n_rows,
                 count(*) < 5 AS risky
          FROM documents
          GROUP BY 1, 2, 3
        """,
        # percentile window + stage arithmetic + composite-key global
        # numbering replayed
        "q181_curriculum": """
          WITH r AS (
            SELECT doc_id AS id, source AS "group",
                   n_chars AS score,
                   row_number() OVER (PARTITION BY source
                     ORDER BY n_chars ASC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents WHERE n_chars IS NOT NULL
          ), p AS (
            SELECT id, "group", score,
                   CAST((rn - 1) * CAST(1000000 AS BIGINT)
                        // greatest(n - 1, 1) AS BIGINT) AS pct_ppm
            FROM r
          ), s AS (
            SELECT *,
                   CAST(least(pct_ppm * 4 // 1000000, 3) AS INT)
                     AS stage,
                   CAST(concat('0x', substring(md5(CAST(id AS VARCHAR)
                     || 'epoch1'), 1, 15)) AS BIGINT) AS hk
            FROM p
          )
          SELECT id, "group", score, pct_ppm, stage,
                 row_number() OVER (ORDER BY stage, hk, id)
                   AS curriculum_pos
          FROM s
        """,
        # merged alias edges from the precedence rules + the q117
        # recursive walk
        "q180_alias_resolution": """
          WITH RECURSIVE d AS (
            SELECT CAST(doc_id AS BIGINT) AS n FROM documents
          ), e AS (
            SELECT 'https://x.test/p/' || CAST(n AS VARCHAR) AS src,
              'https://x.test/p/' || CAST(
                CASE WHEN n % 3 = 0 THEN n + 1
                     ELSE n - n % 10 END AS VARCHAR) AS dst
            FROM d
            WHERE n % 3 = 0
               OR (n % 5 = 0 AND n % 10 <> 0)
          ), s AS (
            SELECT 'https://x.test/p/' || CAST(n AS VARCHAR) AS url
            FROM d
          ), walk AS (
            SELECT url, url AS cur, 0 AS hops FROM s
            UNION ALL
            SELECT w.url, e.dst, w.hops + 1
            FROM walk w JOIN e ON w.cur = e.src
            WHERE w.hops < 8
          ), f AS (
            SELECT url, cur, hops,
              row_number() OVER (PARTITION BY url ORDER BY hops DESC)
                AS rn
            FROM walk
          )
          SELECT url, cur AS final_url, hops,
            CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.src = f.cur)
                 THEN 'cycle_or_long' ELSE 'resolved' END AS status
          FROM f WHERE rn = 1
        """,
        # match positions, window counts, argmax and the original-token
        # slice replayed in SQL
        "q179_snippets": """
          WITH d AS (
            SELECT doc_id AS id,
                   string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), mp AS (
            SELECT id, w,
                   [CAST(p - 1 AS INT) for p in
                      generate_series(1, len(w))
                    if regexp_replace(lower(w[p]), '[^a-z0-9]', '', 'g')
                       IN ('dup', 'scan', 'merge', 'filter')] AS mpos
            FROM d
          ), cand AS (
            SELECT id, w, mpos, unnest(mpos) AS p
            FROM mp WHERE len(mpos) > 0
          ), scoredw AS (
            SELECT id, w, p,
                   len(list_filter(mpos,
                       q -> q >= p AND q < p + 8)) AS cnt
            FROM cand
          ), best AS (
            SELECT id, w, p, cnt,
                   row_number() OVER (PARTITION BY id
                     ORDER BY cnt DESC, p ASC) AS rn
            FROM scoredw
          )
          SELECT id, CAST(cnt AS INT) AS n_matches,
                 CAST(p AS INT) AS snippet_start,
                 array_to_string(w[p + 1 : p + 8], ' ') AS snippet
          FROM best WHERE rn = 1
        """,
        # the full margin recipe replayed: micro-cosine, both kNN
        # background sums, mutual best, integer ratio margin
        "q178_bitext_mining": f"""
          WITH s AS (
            SELECT vec_id AS src_id, embedding FROM embeddings
            WHERE label % 2 = 0
          ), t AS (
            SELECT vec_id AS tgt_id, embedding FROM embeddings
            WHERE label % 2 = 1
          ), scored AS (
            SELECT s.src_id, t.tgt_id,
                   CAST(round({_cos_sql('s.embedding', 't.embedding')}
                        * 1000000) AS BIGINT) AS cos_micro
            FROM s CROSS JOIN t
          ), ranked AS (
            SELECT src_id, tgt_id, cos_micro,
                   row_number() OVER (PARTITION BY src_id
                     ORDER BY cos_micro DESC, tgt_id ASC) AS rs,
                   row_number() OVER (PARTITION BY tgt_id
                     ORDER BY cos_micro DESC, src_id ASC) AS rt
            FROM scored
          ), bg_s AS (
            SELECT src_id, sum(cos_micro)::BIGINT AS sum_s,
                   count(*)::BIGINT AS n_s
            FROM ranked WHERE rs <= 4 GROUP BY 1
          ), bg_t AS (
            SELECT tgt_id, sum(cos_micro)::BIGINT AS sum_t,
                   count(*)::BIGINT AS n_t
            FROM ranked WHERE rt <= 4 GROUP BY 1
          ), mutual AS (
            SELECT src_id, tgt_id, cos_micro FROM ranked
            WHERE rs = 1 AND rt = 1
          ), m AS (
            SELECT mu.src_id, mu.tgt_id, mu.cos_micro,
                   CAST(mu.cos_micro * 2 * n_s * n_t
                        * CAST(1000000 AS BIGINT)
                        // (sum_s * n_t + sum_t * n_s) AS BIGINT)
                     AS margin_ppm
            FROM mutual mu
            JOIN bg_s USING (src_id) JOIN bg_t USING (tgt_id)
            WHERE mu.cos_micro > 0
              AND sum_s * n_t + sum_t * n_s > 0
          )
          SELECT * FROM m WHERE margin_ppm >= 1020000
        """,
        # GROUND TRUTH for the REAL decoder: every expected feature
        # and error string derives from the synthesis rules alone —
        # constant-color means are exact integers, luma is the same
        # double expression, std rounds to 0
        "q192_image_decode": """
          WITH d AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(doc_id AS BIGINT) AS n
            FROM documents
          ), r AS (
            SELECT doc_id, n,
                   CAST(n % 6 + 2 AS INT) AS w,
                   CAST(n % 4 + 1 AS INT) AS h,
                   CAST(n % 256 AS DOUBLE) AS cr,
                   CAST((n * 3 + 7) % 256 AS DOUBLE) AS cg,
                   CAST((n * 5 + 11) % 256 AS DOUBLE) AS cb,
                   n % 9 = 0 AS is_jpeg,
                   n % 13 = 0 AND n % 9 <> 0 AS is_trunc
            FROM d
          )
          SELECT doc_id,
                 CASE WHEN is_jpeg THEN 'jpeg' ELSE 'ppm' END AS format,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL ELSE w END
                   AS width,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL ELSE h END
                   AS height,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL
                      ELSE 3 END AS channels,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL
                      ELSE round(cr, 6) END AS mean_r,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL
                      ELSE round(cg, 6) END AS mean_g,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL
                      ELSE round(cb, 6) END AS mean_b,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL
                      ELSE round(0.299 * cr + 0.587 * cg + 0.114 * cb,
                                 6) END AS luma_mean,
                 CASE WHEN is_jpeg OR is_trunc THEN NULL
                      ELSE 0.0 END AS luma_std,
                 CASE WHEN is_jpeg THEN 'unsupported:jpeg'
                      WHEN is_trunc THEN 'malformed:pnm: truncated raster'
                      ELSE NULL END AS error
          FROM r
        """,
        # the composed scale tier replayed end to end: lowest-id
        # target centroids, argmax cell per target, top-2 probe cells
        # per source, candidate pairs from the cell join, then the
        # q178 margin recipe restricted to the candidates
        "q191_bitext_ivf": f"""
          WITH s AS (
            SELECT vec_id AS src_id, embedding FROM embeddings
            WHERE label % 2 = 0
          ), t AS (
            SELECT vec_id AS tgt_id, embedding FROM embeddings
            WHERE label % 2 = 1
          ), cent AS (
            SELECT tgt_id AS c_id, embedding AS c_vec FROM t
            ORDER BY tgt_id LIMIT 8
          ), ac AS (
            SELECT t.tgt_id, c.c_id,
                   row_number() OVER (
                     PARTITION BY t.tgt_id
                     ORDER BY round({_cos_sql('t.embedding', 'c.c_vec')}, 6) DESC,
                              c.c_id ASC) AS c_rank
            FROM t, cent c
          ), assigned AS (
            SELECT tgt_id, c_id AS cell FROM ac WHERE c_rank = 1
          ), qc AS (
            SELECT s.src_id, c.c_id AS cell,
                   row_number() OVER (
                     PARTITION BY s.src_id
                     ORDER BY round({_cos_sql('s.embedding', 'c.c_vec')}, 6) DESC,
                              c.c_id ASC) AS c_rank
            FROM s, cent c
          ), cand AS (
            SELECT p.src_id, a.tgt_id
            FROM assigned a
            JOIN (SELECT * FROM qc WHERE c_rank <= 2) p
              ON a.cell = p.cell
          ), scored AS (
            SELECT c.src_id, c.tgt_id,
                   CAST(round({_cos_sql('s.embedding', 't.embedding')}
                        * 1000000) AS BIGINT) AS cos_micro
            FROM cand c
            JOIN s USING (src_id) JOIN t USING (tgt_id)
          ), ranked AS (
            SELECT src_id, tgt_id, cos_micro,
                   row_number() OVER (PARTITION BY src_id
                     ORDER BY cos_micro DESC, tgt_id ASC) AS rs,
                   row_number() OVER (PARTITION BY tgt_id
                     ORDER BY cos_micro DESC, src_id ASC) AS rt
            FROM scored
          ), bg_s AS (
            SELECT src_id, sum(cos_micro)::BIGINT AS sum_s,
                   count(*)::BIGINT AS n_s
            FROM ranked WHERE rs <= 4 GROUP BY 1
          ), bg_t AS (
            SELECT tgt_id, sum(cos_micro)::BIGINT AS sum_t,
                   count(*)::BIGINT AS n_t
            FROM ranked WHERE rt <= 4 GROUP BY 1
          ), mutual AS (
            SELECT src_id, tgt_id, cos_micro FROM ranked
            WHERE rs = 1 AND rt = 1
          ), m AS (
            SELECT mu.src_id, mu.tgt_id, mu.cos_micro,
                   CAST(mu.cos_micro * 2 * n_s * n_t
                        * CAST(1000000 AS BIGINT)
                        // (sum_s * n_t + sum_t * n_s) AS BIGINT)
                     AS margin_ppm
            FROM mutual mu
            JOIN bg_s USING (src_id) JOIN bg_t USING (tgt_id)
            WHERE mu.cos_micro > 0
              AND sum_s * n_t + sum_t * n_s > 0
          )
          SELECT * FROM m WHERE margin_ppm >= 1020000
        """,
        # GROUND TRUTH: records derived from the q158 synthesis rules;
        # the header-less second table must contribute nothing
        "q177_table_records": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
            WHERE CAST(doc_id AS BIGINT) % 7 <> 0
          ), r AS (
            SELECT doc_id, n, CAST(g.r AS INT) AS r
            FROM d,
                 unnest(generate_series(0, CAST(1 + n % 3 AS INT)))
                   AS g(r)
          ), c AS (SELECT 0 AS c UNION ALL SELECT 1)
          SELECT doc_id, 0 AS table_pos,
                 CAST(r + 1 AS INT) AS row_pos,
                 CASE WHEN c.c = 0 THEN 'key' ELSE 'value' END AS field,
                 CASE WHEN c.c = 0 THEN 'r' || r
                      ELSE 'v ' || (n * 7 + r) END AS value
          FROM r, c
        """,
        # GROUND TRUTH: marker counts from the modular rules, token
        # denominator replays the tail construction; decoys never fire
        "q176_citation_stats": """
          WITH d AS (
            SELECT doc_id AS id, CAST(doc_id AS BIGINT) AS n,
                   len(string_split_regex(trim(text), '\\s+')) AS base
            FROM documents
          ), c AS (
            SELECT id, n,
                   base
                   + CASE WHEN n % 2 = 0 THEN 3 ELSE 0 END
                   + CASE WHEN n % 3 = 0 THEN 4 ELSE 0 END
                   + CASE WHEN n % 4 = 0 THEN 3 ELSE 0 END
                   + CASE WHEN n % 5 = 0 THEN 5 ELSE 0 END
                   + CASE WHEN n % 6 = 0 THEN 2 ELSE 0 END
                   + CASE WHEN n % 7 = 0 THEN 2 ELSE 0 END AS n_tokens,
                   CAST(CASE WHEN n % 2 = 0 THEN 1 ELSE 0 END
                        + CASE WHEN n % 3 = 0 THEN 2 ELSE 0 END
                        AS BIGINT) AS n_bracket_cites,
                   CAST(CASE WHEN n % 4 = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_paren_years,
                   CAST(CASE WHEN n % 5 = 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS n_etal
            FROM d
          )
          SELECT id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 n_bracket_cites, n_paren_years, n_etal,
                 CAST((n_bracket_cites + n_paren_years + n_etal)
                      * CAST(1000000 AS BIGINT) // n_tokens AS BIGINT)
                   AS cite_rate_ppm
          FROM c
        """,
        # GROUND TRUTH: directives derived from the synthesis rules
        "q175_sitemap_directives": """
          WITH k AS (SELECT unnest(generate_series(0, 49)) AS k),
          j AS (
            SELECT k, unnest(generate_series(0, CAST(k % 3 AS INT)))
                     AS j
            FROM k
          )
          SELECT 'site-' || k || '.test' AS domain,
                 CAST(j AS INT) AS pos,
                 'https://site-' || k || '.test/sitemap-' || j || '.xml'
                   AS sitemap_url
          FROM j
        """,
        "q174_percentile_normalize": """
          WITH r AS (
            SELECT doc_id AS id, source AS "group",
                   n_chars AS score,
                   row_number() OVER (PARTITION BY source
                     ORDER BY n_chars ASC, doc_id ASC) AS rn,
                   count(*) OVER (PARTITION BY source) AS n
            FROM documents WHERE n_chars IS NOT NULL
          )
          SELECT id, "group", score,
                 CAST((rn - 1) * CAST(1000000 AS BIGINT)
                      // greatest(n - 1, 1) AS BIGINT) AS pct_ppm
          FROM r
        """,
        "q173_pairwise_moments": """
          WITH s AS (
            SELECT CAST(round(l_quantity * 100) AS HUGEINT) AS q,
                   CAST(round(l_extendedprice * 100) AS HUGEINT) AS p,
                   CAST(round(l_discount * 100) AS HUGEINT) AS d,
                   CAST(round(l_tax * 100) AS HUGEINT) AS t
            FROM lineitem
          )
          SELECT * FROM (
            SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
                   count(*)::BIGINT AS n, CAST(sum(q) AS VARCHAR) AS sum_a,
                   CAST(sum(p) AS VARCHAR) AS sum_b, CAST(sum(q*q) AS VARCHAR) AS sum_aa,
                   CAST(sum(p*p) AS VARCHAR) AS sum_bb, CAST(sum(q*p) AS VARCHAR) AS sum_ab
            FROM s
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
                   count(*)::BIGINT AS n, CAST(sum(q) AS VARCHAR) AS sum_a,
                   CAST(sum(d) AS VARCHAR) AS sum_b, CAST(sum(q*q) AS VARCHAR) AS sum_aa,
                   CAST(sum(d*d) AS VARCHAR) AS sum_bb, CAST(sum(q*d) AS VARCHAR) AS sum_ab
            FROM s
            UNION ALL
            SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b,
                   count(*)::BIGINT AS n, CAST(sum(q) AS VARCHAR) AS sum_a,
                   CAST(sum(t) AS VARCHAR) AS sum_b, CAST(sum(q*q) AS VARCHAR) AS sum_aa,
                   CAST(sum(t*t) AS VARCHAR) AS sum_bb, CAST(sum(q*t) AS VARCHAR) AS sum_ab
            FROM s
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b,
                   count(*)::BIGINT AS n, CAST(sum(p) AS VARCHAR) AS sum_a,
                   CAST(sum(d) AS VARCHAR) AS sum_b, CAST(sum(p*p) AS VARCHAR) AS sum_aa,
                   CAST(sum(d*d) AS VARCHAR) AS sum_bb, CAST(sum(p*d) AS VARCHAR) AS sum_ab
            FROM s
            UNION ALL
            SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b,
                   count(*)::BIGINT AS n, CAST(sum(p) AS VARCHAR) AS sum_a,
                   CAST(sum(t) AS VARCHAR) AS sum_b, CAST(sum(p*p) AS VARCHAR) AS sum_aa,
                   CAST(sum(t*t) AS VARCHAR) AS sum_bb, CAST(sum(p*t) AS VARCHAR) AS sum_ab
            FROM s
            UNION ALL
            SELECT 'l_discount' AS col_a, 'l_tax' AS col_b,
                   count(*)::BIGINT AS n, CAST(sum(d) AS VARCHAR) AS sum_a,
                   CAST(sum(t) AS VARCHAR) AS sum_b, CAST(sum(d*d) AS VARCHAR) AS sum_aa,
                   CAST(sum(t*t) AS VARCHAR) AS sum_bb, CAST(sum(d*t) AS VARCHAR) AS sum_ab
            FROM s
          )
        """,
        # q162's sentences rebuilt, then the next-fit recursion
        # (q92/q99 pattern) incl. window-text concatenation.
        "q172_sentence_windows": """
          WITH RECURSIVE d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   string_split(trim(regexp_replace(text, '\\s+', ' ',
                     'g')), ' ') AS w
            FROM documents
          ), s AS (
            SELECT doc_id, n, w,
                   CAST(ceil(len(w) / 7.0) AS INT) AS ns
            FROM d
          ), e AS (
            SELECT doc_id, n, CAST(g.i AS INT) AS sent_pos,
                   list_slice(w, CAST(g.i * 7 + 1 AS INT),
                              CAST(g.i * 7 + 7 AS INT)) AS chunk
            FROM s, unnest(generate_series(0, ns - 1)) AS g(i)
          ), b AS (
            SELECT doc_id, sent_pos,
                   upper(substr(chunk[1], 1, 1)) || substr(chunk[1], 2)
                   || CASE WHEN len(chunk) > 1
                           THEN ' ' || array_to_string(
                             list_slice(chunk, 2, len(chunk)), ' ')
                           ELSE '' END
                   || CASE WHEN sent_pos % 5 = 0 THEN ' i.e. decoy'
                           ELSE '' END
                   || CASE WHEN sent_pos % 7 = 3 THEN ' 3.14' ELSE '' END
                   || (['.', '!', '?'])[CAST((n + sent_pos) % 3 AS INT)
                                        + 1] AS sentence
            FROM e
          ), sc AS (
            SELECT doc_id, sentence,
                   CAST(len(string_split(sentence, ' ')) AS BIGINT) AS c,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY sent_pos) AS rn
            FROM b
          ), seg AS (
            SELECT doc_id, rn, sentence, c, 0 AS win, c AS run
            FROM sc WHERE rn = 1
            UNION ALL
            SELECT o.doc_id, o.rn, o.sentence, o.c,
                   CASE WHEN p.run + o.c > 20 THEN p.win + 1
                        ELSE p.win END,
                   CASE WHEN p.run + o.c > 20 THEN o.c
                        ELSE p.run + o.c END
            FROM sc o JOIN seg p
              ON o.doc_id = p.doc_id AND o.rn = p.rn + 1
          )
          SELECT doc_id AS id, CAST(win AS INT) AS window_id,
                 CAST(count(*) AS INT) AS n_sentences,
                 CAST(sum(c) AS BIGINT) AS n_tokens,
                 string_agg(sentence, ' ' ORDER BY rn) AS window_text
          FROM seg GROUP BY 1, 2
        """,
        # the plain IN-filter the pruned read must reproduce exactly
        "q170_read_lookup": """
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_custkey AS BIGINT) AS o_custkey,
                 o_orderstatus,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice
          FROM orders
          WHERE o_orderkey % 4 = 2 AND o_orderkey BETWEEN 0 AND 118
        """,
        # GROUND TRUTH: hosts and registered domains both derived from
        # the synthesis rules.
        "q169_registered_domain": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   CAST(doc_id AS BIGINT) % 50 AS k
            FROM documents
          )
          SELECT doc_id,
                 CASE WHEN n % 3 = 0
                        THEN 'WWW.sub.site-' || k || '.Co.Uk'
                      WHEN n % 11 = 0 THEN 'intranet'
                      ELSE 'cdn' || (n % 7) || '.site-' || k || '.com'
                 END AS host,
                 CASE WHEN n % 3 = 0 THEN 'site-' || k || '.co.uk'
                      WHEN n % 11 = 0 THEN 'intranet'
                      ELSE 'site-' || k || '.com'
                 END AS domain
          FROM d
        """,
        # same hash positions, interval union replayed as
        # gaps-and-islands windows instead of the array fold.
        "q167_span_corruption": """
          WITH d AS (
            SELECT doc_id AS id,
                   string_split(trim(regexp_replace(text, '\\s+', ' ',
                     'g')), ' ') AS w
            FROM documents
          ), pos AS (
            SELECT id, CAST(g.p AS INT) AS p, CAST(len(w) AS INT) AS nt
            FROM d, unnest(generate_series(0, len(w) - 1)) AS g(p)
          ), h AS (
            SELECT id, p, nt,
                   CAST(concat('0x', substring(md5(id || ':' || p),
                     1, 15)) AS BIGINT) AS hv
            FROM pos
          ), st AS (
            SELECT id, p AS s,
                   CAST(least(p + 2 + (hv // 20) % 3, nt) AS INT) AS e
            FROM h WHERE hv % 20 = 0
          ), isl AS (
            SELECT id, s, e,
                   CASE WHEN s <= max(e) OVER (PARTITION BY id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING AND
                          1 PRECEDING) THEN 0 ELSE 1 END AS brk
            FROM st
          ), grp AS (
            SELECT id, s, e,
                   sum(brk) OVER (PARTITION BY id ORDER BY s) AS g
            FROM isl
          ), m AS (
            SELECT id, g, min(s) AS s, max(e) AS e
            FROM grp GROUP BY 1, 2
          )
          SELECT id,
                 CAST(row_number() OVER (PARTITION BY id ORDER BY s) - 1
                      AS INT) AS mask_id,
                 CAST(s AS INT) AS span_start,
                 CAST(e AS INT) AS span_end,
                 CAST(e - s AS INT) AS n_masked
          FROM m
        """,
        # GROUND TRUTH: raw URL rebuilt by the same rules, canonical
        # form derived from the rules directly (never from the expr).
        "q166_url_canonicalize": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   CAST(doc_id AS BIGINT) % 50 AS k
            FROM documents
          ), u AS (
            SELECT doc_id, n, k,
              concat_ws('&',
                CASE WHEN n % 2 = 0 THEN 'utm_source=x' END,
                CASE WHEN n % 5 <> 0 THEN 'b=2&a=1' END,
                CASE WHEN n % 7 = 0 THEN 'PHPSESSID=abc' END) AS q
            FROM d
          )
          SELECT doc_id,
            'https://SITE-' || k || '.Test'
              || CASE WHEN n % 4 = 0 THEN ':443'
                      WHEN n % 9 = 0 THEN ':8080' ELSE '' END
              || '/P/' || n
              || CASE WHEN n % 3 = 0 THEN '/' ELSE '' END
              || CASE WHEN q <> '' THEN '?' || q ELSE '' END
              || CASE WHEN n % 6 = 0 THEN '#frag' ELSE '' END AS url,
            'https://site-' || k || '.test'
              || CASE WHEN n % 4 <> 0 AND n % 9 = 0
                      THEN ':8080' ELSE '' END
              || '/P/' || n
              || CASE WHEN n % 5 <> 0 THEN '?a=1&b=2' ELSE '' END
              AS canonical
          FROM u
        """,
        # q162's construction re-derived, then the integer Flesch
        # formula over ground-truth sentence/word/syllable counts.
        "q165_readability": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   string_split(trim(regexp_replace(text, '\\s+', ' ',
                     'g')), ' ') AS w
            FROM documents
          ), s AS (
            SELECT doc_id, n, w,
                   CAST(ceil(len(w) / 7.0) AS INT) AS ns
            FROM d
          ), e AS (
            SELECT doc_id, n, CAST(g.i AS INT) AS sent_pos,
                   list_slice(w, CAST(g.i * 7 + 1 AS INT),
                              CAST(g.i * 7 + 7 AS INT)) AS chunk
            FROM s, unnest(generate_series(0, ns - 1)) AS g(i)
          ), b AS (
            SELECT doc_id, sent_pos,
                   upper(substr(chunk[1], 1, 1)) || substr(chunk[1], 2)
                   || CASE WHEN len(chunk) > 1
                           THEN ' ' || array_to_string(
                             list_slice(chunk, 2, len(chunk)), ' ')
                           ELSE '' END
                   || CASE WHEN sent_pos % 5 = 0 THEN ' i.e. decoy'
                           ELSE '' END
                   || CASE WHEN sent_pos % 7 = 3 THEN ' 3.14' ELSE '' END
                   || (['.', '!', '?'])[CAST((n + sent_pos) % 3 AS INT)
                                        + 1] AS sentence
            FROM e
          ), wq AS (
            SELECT doc_id, unnest(string_split(sentence, ' ')) AS tok
            FROM b
          ), wagg AS (
            SELECT doc_id, count(*)::BIGINT AS n_words,
                   sum(greatest(1, len(regexp_extract_all(lower(tok),
                     '[aeiouy]+'))))::BIGINT AS n_syllables
            FROM wq GROUP BY 1
          ), sagg AS (
            SELECT doc_id, count(*)::BIGINT AS n_sentences
            FROM b GROUP BY 1
          )
          SELECT wagg.doc_id AS id, n_words, n_sentences, n_syllables,
                 CAST(206835
                  - (1015 * (n_words * CAST(1000000 AS BIGINT)
                             // n_sentences)) // 1000000
                  - (84600 * (n_syllables * CAST(1000000 AS BIGINT)
                              // n_words)) // 1000000 AS BIGINT)
                   AS flesch_milli
          FROM wagg JOIN sagg USING (doc_id)
        """,
        # GROUND TRUTH: the q163 pages' planted sections derived from
        # the modular rules (preamble = the h1 text, each h2 section's
        # body = its paragraph + the h3 text where planted).
        "q168_section_chunks": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   CAST(2 + CAST(doc_id AS BIGINT) % 3 AS INT) AS nsec
            FROM documents
          ), pre AS (
            SELECT doc_id, 0 AS section_pos,
                   CAST(NULL AS VARCHAR) AS heading_text,
                   'Report ' || n AS section_text
            FROM d
          ), sec AS (
            SELECT doc_id, CAST(g.i + 1 AS INT) AS section_pos,
                   'Section ' || g.i AS heading_text,
                   'para ' || g.i ||
                   CASE WHEN (n + g.i) % 2 = 0 THEN ' Sub ' || g.i
                        ELSE '' END AS section_text
            FROM d, unnest(generate_series(0, nsec - 1)) AS g(i)
          )
          SELECT doc_id, CAST(section_pos AS INT) AS section_pos,
                 heading_text, section_text
          FROM (SELECT * FROM pre UNION ALL SELECT * FROM sec)
        """,
        # GROUND TRUTH: the planted heading tree recomputed from the
        # modular rules (prefix-count positions, parent = the section's
        # h2 for every h3, the h1 for every h2).
        "q163_page_outline": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n,
                   CAST(2 + CAST(doc_id AS BIGINT) % 3 AS INT) AS nsec
            FROM documents
          ), h1 AS (
            SELECT doc_id, 0 AS heading_pos, 1 AS level,
                   'Report ' || n AS heading_text,
                   CAST(NULL AS INT) AS parent_pos
            FROM d
          ), sec AS (
            SELECT doc_id, n, CAST(g.i AS INT) AS i,
                   CAST(1 + g.i + (g.i + 1 - n % 2) // 2 AS INT) AS pos2
            FROM d, unnest(generate_series(0, nsec - 1)) AS g(i)
          ), h2 AS (
            SELECT doc_id, pos2 AS heading_pos, 2 AS level,
                   'Section ' || i AS heading_text, 0 AS parent_pos
            FROM sec
          ), h3 AS (
            SELECT doc_id, pos2 + 1 AS heading_pos, 3 AS level,
                   'Sub ' || i AS heading_text, pos2 AS parent_pos
            FROM sec WHERE (n + i) % 2 = 0
          )
          SELECT doc_id, CAST(heading_pos AS INT) AS heading_pos,
                 CAST(level AS INT) AS level, heading_text,
                 CAST(parent_pos AS INT) AS parent_pos
          FROM (SELECT * FROM h1 UNION ALL SELECT * FROM h2
                UNION ALL SELECT * FROM h3)
        """,
        # the identical synchronous-LPA recursion replayed as a
        # recursive CTE (q66/q123 house pattern): symmetrize, per-round
        # neighbor-label counts, argmax by (count DESC, label ASC).
        "q164_label_propagation": """
          WITH RECURSIVE
          raw AS (
            SELECT (doc_id % 208)::BIGINT AS a,
                   ((doc_id % 208) - (doc_id % 208) % 13
                    + ((doc_id % 208) % 13 + 1) % 13)::BIGINT AS b
            FROM documents
            UNION ALL
            SELECT (doc_id % 208)::BIGINT,
                   ((doc_id % 208) - (doc_id % 208) % 13
                    + ((doc_id % 208) % 13 + 3) % 13)::BIGINT
            FROM documents),
          sym AS (
            SELECT DISTINCT a, b FROM (
              SELECT a, b FROM raw WHERE a <> b
              UNION ALL
              SELECT b, a FROM raw WHERE a <> b)),
          lab(iter, node, label) AS (
            SELECT 0, a, a FROM (SELECT DISTINCT a FROM sym)
            UNION ALL
            SELECT iter + 1, node, label FROM (
              WITH prev AS (SELECT * FROM lab),
              cnt AS (
                SELECT e.a AS node, p.label, count(*)::BIGINT AS c
                FROM prev p JOIN sym e ON e.b = p.node
                GROUP BY 1, 2),
              pick AS (
                SELECT node, label AS new_label FROM (
                  SELECT node, label,
                         row_number() OVER (PARTITION BY node
                           ORDER BY c DESC, label ASC) AS rn
                  FROM cnt) WHERE rn = 1)
              SELECT p.iter, p.node,
                     COALESCE(k.new_label, p.label) AS label
              FROM prev p LEFT JOIN pick k ON k.node = p.node
            ) WHERE iter + 1 <= 4)
          SELECT node, label FROM lab WHERE iter = 4
        """,
        "q144_politeness": """
          WITH fr AS (
            SELECT doc_id % 37 AS hn,
                   'host' || CAST(doc_id % 37 AS VARCHAR) || '.example'
                     AS host,
                   'https://host' || CAST(doc_id % 37 AS VARCHAR)
                     || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
                   CAST(n_chars AS INT) AS indegree
            FROM documents)
          SELECT host, url,
                 CAST(CAST(concat('0x', substring(md5(host || 'worker'),
                       1, 15)) AS BIGINT) % 8 AS INT) AS worker,
                 CAST(row_number() OVER (PARTITION BY host
                       ORDER BY indegree DESC, url ASC) - 1 AS BIGINT)
                   AS seq,
                 CAST(CASE WHEN hn % 5 = 0 THEN 2500 ELSE 1000 END
                      AS BIGINT) AS delay_ms,
                 CAST((row_number() OVER (PARTITION BY host
                       ORDER BY indegree DESC, url ASC) - 1)
                      * (CASE WHEN hn % 5 = 0 THEN 2500 ELSE 1000 END)
                      AS BIGINT) AS fetch_offset_ms
          FROM fr
        """,
        "q145_domain_prior": f"""
          WITH scored AS ({clf_sql}),
          j AS (
            SELECT doc.source, scored.keep
            FROM scored JOIN documents doc USING (doc_id)),
          per AS (
            SELECT source, count(*) AS n_docs,
                   sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_keep
            FROM j GROUP BY 1),
          tot AS (
            SELECT sum(n_docs) AS nn, sum(n_keep) AS kk FROM per)
          SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(n_keep AS BIGINT) AS n_keep,
                 CAST((n_keep * CAST(1000000 AS BIGINT)) // n_docs
                      AS BIGINT) AS raw_ppm,
                 CAST(((CAST(n_keep AS HUGEINT) * nn
                        + CAST(25 AS HUGEINT) * kk) * 1000000)
                      // (CAST(n_docs + 25 AS HUGEINT) * nn)
                      AS BIGINT) AS shrunk_ppm
          FROM per, tot
        """,
        "q146_span_diff": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), raw AS (
            SELECT doc_id, i*2 AS ord, 'text' AS kind,
                   array_to_string(w[i*12+1 : i*12+12], ' ') AS text,
                   '' AS media_ref
            FROM chunks
            UNION ALL
            SELECT doc_id, i*2+1,
                   CASE WHEN (doc_id + i) % 2 = 0 THEN 'image' ELSE 'video' END,
                   '', 'asset-' || CAST(doc_id AS VARCHAR) || '-'
                       || CAST(i AS VARCHAR)
            FROM chunks WHERE i % 3 = 2
          ), exp0 AS (
            SELECT doc_id,
                   row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
                     AS off,
                   kind, text, media_ref
            FROM raw
          ), cnt AS (SELECT doc_id, count(*) AS n FROM exp0 GROUP BY 1),
          expd AS (SELECT * FROM exp0 WHERE doc_id % 11 <> 10),
          act AS (
            SELECT e.doc_id, e.off, e.kind,
                   CASE WHEN e.doc_id % 11 = 3 AND e.off = 0
                             AND e.kind = 'text'
                        THEN e.text || ' CORRUPTED' ELSE e.text END AS text,
                   CASE WHEN e.doc_id % 11 = 5 AND e.off = 3
                             AND e.kind <> 'text'
                        THEN 'asset-SWAPPED' ELSE e.media_ref END
                     AS media_ref
            FROM exp0 e JOIN cnt c USING (doc_id)
            WHERE e.doc_id % 11 <> 9
              AND NOT (e.doc_id % 11 = 7 AND e.off = c.n - 1)
          ),
          -- counts derive from the mutation rules, not act/expd row
          -- presence: a 1-span doc under the drop-last mutation is an
          -- EMPTY actual document (0 spans), not a missing one
          na AS (SELECT doc_id,
                        n - CASE WHEN doc_id % 11 = 7 THEN 1 ELSE 0 END
                          AS n_a
                 FROM cnt WHERE doc_id % 11 <> 9),
          ne AS (SELECT doc_id, n AS n_e FROM cnt WHERE doc_id % 11 <> 10),
          ids AS (
            SELECT coalesce(a.doc_id, e.doc_id) AS doc_id, a.n_a, e.n_e
            FROM na a FULL JOIN ne e ON a.doc_id = e.doc_id),
          pairs AS (
            SELECT x.doc_id, x.off,
                   x.kind AS ak, x.text AS at_, x.media_ref AS am,
                   y.kind AS ek, y.text AS et, y.media_ref AS em
            FROM act x JOIN expd y ON y.doc_id = x.doc_id
                                  AND y.off = x.off),
          mism AS (
            SELECT doc_id, min(off) AS fd
            FROM pairs
            WHERE NOT (ak = ek AND at_ = et AND am = em)
            GROUP BY 1),
          fieldx AS (
            SELECT p.doc_id,
                   CASE WHEN p.ak <> p.ek THEN 'kind'
                        WHEN p.at_ <> p.et THEN 'text'
                        ELSE 'media_ref' END AS field
            FROM pairs p JOIN mism m
              ON p.doc_id = m.doc_id AND p.off = m.fd)
          SELECT CAST(i.doc_id AS VARCHAR) AS doc_id,
                 CASE WHEN i.n_a IS NULL THEN 'missing_actual'
                      WHEN i.n_e IS NULL THEN 'missing_expected'
                      WHEN m.fd IS NOT NULL THEN 'diverged'
                      WHEN i.n_a <> i.n_e THEN 'length_mismatch'
                      ELSE 'equal' END AS verdict,
                 CAST(i.n_a AS BIGINT) AS n_actual,
                 CAST(i.n_e AS BIGINT) AS n_expected,
                 CAST(CASE WHEN i.n_a IS NULL OR i.n_e IS NULL THEN NULL
                           WHEN m.fd IS NOT NULL THEN m.fd
                           WHEN i.n_a <> i.n_e THEN least(i.n_a, i.n_e)
                           ELSE -1 END AS BIGINT) AS first_divergence,
                 f.field
          FROM ids i
          LEFT JOIN mism m ON m.doc_id = i.doc_id
          LEFT JOIN fieldx f ON f.doc_id = i.doc_id
        """,
        "q147_srp_project": """
          WITH x AS (
            SELECT vec_id, g.i,
                   CAST(floor(CAST(embedding[g.i + 1] AS DOUBLE) * 1000000
                              + 0.5) AS BIGINT) AS xq
            FROM embeddings, generate_series(0, 63) AS g(i)
            WHERE embedding IS NOT NULL),
          s AS (
            SELECT a.j, b.i,
                   CASE WHEN CAST(concat('0x', substring(
                          md5(CAST(a.j AS VARCHAR) || '-'
                              || CAST(b.i AS VARCHAR) || '-srp'), 1, 15))
                        AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END AS sgn
            FROM generate_series(0, 15) AS a(j),
                 generate_series(0, 63) AS b(i))
          SELECT x.vec_id, CAST(s.j AS INT) AS dim,
                 CAST(sum(s.sgn * x.xq) AS BIGINT) AS value
          FROM x JOIN s USING (i)
          GROUP BY 1, 2
        """,
        "q149_profile_drift": """
          WITH src AS (SELECT * FROM orders),
          newsrc AS (
            SELECT o_orderkey, o_custkey % 10 AS o_custkey,
                   CASE WHEN o_orderkey % 5 = 0 THEN NULL
                        ELSE o_orderstatus END AS o_orderstatus,
                   o_orderkey % 2 AS o_flag
            FROM src),
          oldp AS (
            SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
                   count(DISTINCT o_orderkey) AS nd,
                   CAST(min(o_orderkey) AS VARCHAR) AS mn,
                   CAST(max(o_orderkey) AS VARCHAR) AS mx FROM src
            UNION ALL
            SELECT 'o_custkey', count(*),
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT o_custkey),
                   CAST(min(o_custkey) AS VARCHAR),
                   CAST(max(o_custkey) AS VARCHAR) FROM src
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT o_orderstatus),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR) FROM src
            UNION ALL
            SELECT 'o_orderpriority', count(*),
                   sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT o_orderpriority),
                   CAST(min(o_orderpriority) AS VARCHAR),
                   CAST(max(o_orderpriority) AS VARCHAR) FROM src),
          newp AS (
            SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
                   sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_nulls,
                   count(DISTINCT o_orderkey) AS nd,
                   CAST(min(o_orderkey) AS VARCHAR) AS mn,
                   CAST(max(o_orderkey) AS VARCHAR) AS mx FROM newsrc
            UNION ALL
            SELECT 'o_custkey', count(*),
                   sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT o_custkey),
                   CAST(min(o_custkey) AS VARCHAR),
                   CAST(max(o_custkey) AS VARCHAR) FROM newsrc
            UNION ALL
            SELECT 'o_orderstatus', count(*),
                   sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT o_orderstatus),
                   CAST(min(o_orderstatus) AS VARCHAR),
                   CAST(max(o_orderstatus) AS VARCHAR) FROM newsrc
            UNION ALL
            SELECT 'o_flag', count(*),
                   sum(CASE WHEN o_flag IS NULL THEN 1 ELSE 0 END),
                   count(DISTINCT o_flag),
                   CAST(min(o_flag) AS VARCHAR),
                   CAST(max(o_flag) AS VARCHAR) FROM newsrc),
          j AS (
            SELECT coalesce(o.col_name, n.col_name) AS col_name,
                   o.n_rows AS ro, o.n_nulls AS no, o.nd AS ndo,
                   o.mn AS mno, o.mx AS mxo,
                   n.n_rows AS rn, n.n_nulls AS nn, n.nd AS ndn,
                   n.mn AS mnn, n.mx AS mxn
            FROM oldp o FULL JOIN newp n ON o.col_name = n.col_name)
          SELECT col_name,
                 CASE WHEN ndn IS NULL THEN 'dropped'
                      WHEN ndo IS NULL THEN 'added'
                      WHEN abs(nn * 1000000 // greatest(rn, 1)
                               - no * 1000000 // greatest(ro, 1)) > 10000
                           OR (ndn * 1000000 // greatest(ndo, 1)) < 500000
                           OR (ndn * 1000000 // greatest(ndo, 1)) > 2000000
                           OR NOT (mno IS NOT DISTINCT FROM mnn
                                   AND mxo IS NOT DISTINCT FROM mxn)
                        THEN 'drift'
                      ELSE 'stable' END AS status,
                 CAST(CASE WHEN ndn IS NULL OR ndo IS NULL THEN NULL
                      ELSE nn * 1000000 // greatest(rn, 1)
                           - no * 1000000 // greatest(ro, 1) END
                      AS BIGINT) AS null_delta_ppm,
                 CAST(CASE WHEN ndn IS NULL OR ndo IS NULL THEN NULL
                      ELSE ndn * 1000000 // greatest(ndo, 1) END
                      AS BIGINT) AS distinct_ratio_ppm,
                 CASE WHEN ndn IS NULL OR ndo IS NULL THEN FALSE
                      ELSE NOT (mno IS NOT DISTINCT FROM mnn
                                AND mxo IS NOT DISTINCT FROM mxn) END
                   AS range_changed
          FROM j
        """,
        "q12_token_stats": f"""
          SELECT source, count(*) AS n_docs,
                 CAST(sum(CASE WHEN len(trim(text))=0 THEN 0 ELSE len({toks}) END) AS BIGINT) AS total_tokens,
                 CAST(round(sum(CAST(n_chars AS DECIMAL(30,10)))/count(*),2) AS DOUBLE) AS avg_chars
          FROM documents GROUP BY 1
        """,
        "q13_quality": f"""
          SELECT doc_id, CAST(n_tok AS INT) AS n_tokens, round({quality},1) AS quality_score
          FROM ({qstats})
        """,
        "q14_langid": f"""
          SELECT doc_id, {lang_expr} AS lang_pred FROM (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   {lang_score("de")} AS s_de, {lang_score("en")} AS s_en,
                   {lang_score("es")} AS s_es, {lang_score("fr")} AS s_fr
            FROM (SELECT doc_id, lower(text) AS text FROM documents))
        """,
        "q15_fingerprint": """
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fingerprint
          FROM documents
        """,
        "q16_simhash": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents),
          h AS (SELECT id, CAST(concat('0x', substring(md5(tok),1,14)) AS BIGINT) AS h FROM tok),
          bits AS (
            SELECT id, i,
                   sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM h, unnest([x for x in generate_series(0,31)]) AS u(i)
            GROUP BY 1,2)
          SELECT id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS simhash
          FROM bits GROUP BY 1
        """,
        "q17_ann_topk": """
          WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10),
          scored AS (
            SELECT q.q_id, e.vec_id AS neighbor_id,
                   round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)
                                   for i in generate_series(1, len(e.embedding))])
                         / (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in e.embedding]))
                            * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in q.q_vec]))), 6) AS score
            FROM embeddings e, q WHERE e.vec_id <> q.q_id)
          SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          WHERE rank <= 10
        """,
        "q18_label_norms": """
          SELECT label, count(*) AS n,
                 CAST(round(sum(CAST(sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in embedding])) AS DECIMAL(30,10)))/count(*),4) AS DOUBLE) AS avg_norm
          FROM embeddings GROUP BY 1
        """,
        # q19/q20 goldens: committed parquet computed WITHOUT the pipeline —
        # an independent Python mini-shredder over the generator's
        # ground-truth fields (fixtures/oracle_shred.py) and the generator's
        # golden span classification. Regenerate: python tools/make_goldens.py
        "q19_extract_documents": """
          SELECT doc_id, thumbprint, recognizer_status, document_number,
                 tax_period, account, post_code,
                 net_total, grand_total, n_lines, n_errors, is_valid
          FROM read_parquet('/root/repo/horus_spark/fixtures/goldens/q19_expected_documents.parquet')
        """,
        # q193: the TRAINED-config pipeline must reproduce the same
        # independent golden the hand-written config does
        "q193_trained_extraction": """
          SELECT doc_id, thumbprint, recognizer_status, document_number,
                 tax_period, account, post_code,
                 net_total, grand_total, n_lines, n_errors, is_valid
          FROM read_parquet('/root/repo/horus_spark/fixtures/goldens/q19_expected_documents.parquet')
        """,
        "q20_extract_spans": """
          SELECT doc_id, kind, text, "offset", media_ref
          FROM read_parquet('/root/repo/horus_spark/fixtures/goldens/q20_expected_spans.parquet')
        """,
        # q32: duplicate upload of the whole golden corpus -> every doc_id
        # carries versions {1,2}, latest on 2, thumbprint invariant across
        # uploads (doc_id+thumbprint from the independent q19 golden).
        "q32_versioned_sink": """
          SELECT doc_id, thumbprint, CAST(u.v AS INT) AS document_version,
                 u.v = 2 AS latest_version_indicator
          FROM read_parquet('/root/repo/horus_spark/fixtures/goldens/q19_expected_documents.parquet'),
               unnest([1, 2]) AS u(v)
        """,
        "q21_minhash_pairs": minhash_sql,
        # q195: n_docs + used-shard count from the md5 shard rule;
        # all four packing-validity counters pinned at ZERO (the
        # recursion-free scale-tier check for the q41/q92 packers)
        "q195_packing_audit": """
          WITH docs AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard
            FROM documents
          )
          SELECT (SELECT count(*) FROM docs) AS n_docs,
                 (SELECT count(DISTINCT shard) FROM docs)
                   AS n_shards_used,
                 CAST(0 AS BIGINT) AS n_start_violations,
                 CAST(0 AS BIGINT) AS n_transition_violations,
                 CAST(0 AS BIGINT) AS n_budget_violations,
                 CAST(0 AS BIGINT) AS n_greedy_violations
          FROM (SELECT 1)
        """,
        # q194: pair counts replay the q21 pipeline; the four
        # structural audits are pinned at ZERO (the recursion-free
        # scale-tier check for the q40 closure)
        "q194_components_audit": f"""
          WITH pairs AS ({minhash_sql})
          SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (SELECT count(*) FROM pairs) AS n_pairs,
                 CAST(0 AS BIGINT) AS n_edge_violations,
                 CAST(0 AS BIGINT) AS n_canonical_violations,
                 CAST(0 AS BIGINT) AS n_size_violations,
                 CAST(0 AS BIGINT) AS n_undersupported_clusters
        """,
        "q95_multimodal_minhash": q95_sql,
        "q97_incremental_multimodal": q97_sql,
        "q98_redact_spans": q98_sql,
        "q100_multimodal_keep_best": q100_sql,
        # q101: the catalog DML triad (append / merge / delete) replayed
        # as one SQL expression over orders — UNION the merge's inserts,
        # CASE the merge's updates, filter the deletes. Row parity with
        # the engine's own snapshot-store read-back proves the chunk
        # rewrites drop/replace exactly the keyed rows and nothing else.
        "q101_dml_roundtrip": """
          WITH merged AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 10 = 3
                        THEN o_totalprice + 1000.0 ELSE o_totalprice END
                     AS o_totalprice
            FROM orders
            UNION ALL
            SELECT * FROM (VALUES (-1, 1, 'X', 1.5), (-2, 2, 'X', 2.5))
              AS ins(o_orderkey, o_custkey, o_orderstatus, o_totalprice)
          )
          SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                 CAST(o_custkey AS BIGINT) AS o_custkey,
                 o_orderstatus,
                 CAST(o_totalprice AS DOUBLE) AS o_totalprice
          FROM merged WHERE o_orderkey % 7 != 0
        """,
        # q102: interleaved span construction (same CTE shape as q88) ->
        # plant German marker spans at interleaved offset 3 mod 5 ->
        # per-span marker-argmax langid -> per-doc token-mass routing.
        # Both argmaxes use the >=-chain (first code alphabetically wins
        # ties), matching langid_expr / span_languages exactly.
        "q102_span_langid": f"""
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), raw AS (
            SELECT doc_id, i*2 AS ord, 'text' AS kind,
                   array_to_string(w[i*12+1 : i*12+12], ' ') AS text
            FROM chunks
            UNION ALL
            SELECT doc_id, i*2+1, CASE WHEN (doc_id + i) % 2 = 0
                                       THEN 'image' ELSE 'video' END, ''
            FROM chunks WHERE i % 3 = 2
          ), s AS (
            SELECT doc_id, kind, text,
                   row_number() OVER (PARTITION BY doc_id ORDER BY ord) - 1
                     AS off
            FROM raw
          ), planted AS (
            SELECT doc_id,
                   CASE WHEN off % 5 = 3 THEN 'der die und das ist'
                        ELSE text END AS text
            FROM s WHERE kind = 'text'
          ), sp AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\\s+') AS t,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END
                     AS n_tok
            FROM planted
          ), scored AS (
            SELECT doc_id, n_tok,
              len(list_filter(t, x -> list_contains({_LANGS_SQL["de"]}, x))) AS s_de,
              len(list_filter(t, x -> list_contains({_LANGS_SQL["en"]}, x))) AS s_en,
              len(list_filter(t, x -> list_contains({_LANGS_SQL["es"]}, x))) AS s_es,
              len(list_filter(t, x -> list_contains({_LANGS_SQL["fr"]}, x))) AS s_fr
            FROM sp
          ), langed AS (
            SELECT doc_id, n_tok,
              CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
                   WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                   WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                   WHEN s_es >= s_fr THEN 'es'
                   ELSE 'fr' END AS lang
            FROM scored
          ), mass AS (
            SELECT doc_id,
              CAST(sum(CASE WHEN lang='de' THEN n_tok ELSE 0 END) AS BIGINT) AS m_de,
              CAST(sum(CASE WHEN lang='en' THEN n_tok ELSE 0 END) AS BIGINT) AS m_en,
              CAST(sum(CASE WHEN lang='es' THEN n_tok ELSE 0 END) AS BIGINT) AS m_es,
              CAST(sum(CASE WHEN lang='fr' THEN n_tok ELSE 0 END) AS BIGINT) AS m_fr,
              CAST(sum(n_tok) AS BIGINT) AS text_tokens
            FROM langed GROUP BY doc_id
          )
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
            CASE WHEN greatest(m_de, m_en, m_es, m_fr) = 0 THEN 'und'
                 WHEN m_de >= m_en AND m_de >= m_es AND m_de >= m_fr THEN 'de'
                 WHEN m_en >= m_es AND m_en >= m_fr THEN 'en'
                 WHEN m_es >= m_fr THEN 'es'
                 ELSE 'fr' END AS dominant_lang,
            CAST((CASE WHEN m_de > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN m_en > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN m_es > 0 THEN 1 ELSE 0 END)
               + (CASE WHEN m_fr > 0 THEN 1 ELSE 0 END) AS INT) AS n_langs,
            CAST(CASE WHEN (CASE WHEN m_de > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN m_en > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN m_es > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN m_fr > 0 THEN 1 ELSE 0 END) >= 2
                      THEN 1 ELSE 0 END AS INT) AS is_multilingual,
            greatest(m_de, m_en, m_es, m_fr) AS dom_tokens,
            m_de + m_en + m_es + m_fr AS ided_tokens,
            text_tokens
          FROM mass
        """,
        # q103: same ANALYZE profile per column — count/nulls/exact
        # distinct/min/max rendered to VARCHAR, one SELECT per column
        "q103_profile": "\n          UNION ALL\n".join(
            f"""
          SELECT '{c}' AS col_name, count(*) AS n_rows,
                 CAST(coalesce(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_nulls,
                 CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
                 CAST(min({c}) AS VARCHAR) AS min_value,
                 CAST(max({c}) AS VARCHAR) AS max_value
          FROM orders"""
            for c in (
                "o_orderkey",
                "o_custkey",
                "o_orderstatus",
                "o_orderdate",
                "o_orderpriority",
            )
        ),
        # q104: replay of the flat block screen — identical page
        # synthesis, chrome-strip regexes, block-split regex, tag strip,
        # whitespace collapse, anchor-char fold and integer content rule
        # as operators/html.py::html_blocks.
        "q104_html_blocks": _HTML_MET_CTE + """
          SELECT doc_id, block_pos, block_text,
                 CAST(length(block_text) AS INT) AS text_chars,
                 tag_count, link_chars,
                 CAST(CASE WHEN length(block_text) >= 25
                            AND 3 * link_chars <= length(block_text)
                           THEN 1 ELSE 0 END AS INT) AS is_content
          FROM met WHERE length(block_text) > 0
        """,
        # q105: GROUND TRUTH, not a replay — the expected main content
        # (h1 + 12-token chunks, newline-joined) reconstructed straight
        # from documents; a green row means dom_extract recovered the
        # planted content of every synthesized page exactly.
        "q105_dom_extract": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), c AS (
            SELECT doc_id, w,
                   greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) AS n
            FROM tok
          ), j AS (
            SELECT doc_id, n, 'Report ' || doc_id AS h1,
              array_to_string(list_transform(generate_series(0, n - 1),
                i -> array_to_string(w[i*12+1 : i*12+12], ' ')), chr(10))
                AS body
            FROM c
          )
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 h1 || chr(10) || body AS content_text,
                 CAST(n + 1 AS INT) AS n_blocks,
                 CAST(length(h1) + length(body) - (n - 1) AS INT)
                   AS content_chars
          FROM j
        """,
        # q106: replay of outlink extraction — same injected related
        # links + page URL, anchor regex, href precedence (double quote
        # over single), text strip, and the 5-rule resolution ladder as
        # operators/html.py::extract_links.
        "q106_html_links": _HTML_PAGE_CTE + """, aug AS (
            SELECT doc_id,
              replace(html, '</body></html>',
                '<div class="rel"><p><a href="https://site-'
                || CAST((CAST(doc_id AS BIGINT) * 7 + 1) % 50 AS VARCHAR)
                || '.test/doc/' || doc_id
                || '">Related reading</a> <a href="https://site-'
                || CAST((CAST(doc_id AS BIGINT) * 13 + 2) % 50 AS VARCHAR)
                || '.test/">Partner site</a></p></div></body></html>') AS html,
              'https://site-' || CAST(CAST(doc_id AS BIGINT) % 50 AS VARCHAR)
                || '.test/doc/' || doc_id AS url
            FROM page
          ), anch AS (
            SELECT doc_id, url,
                   regexp_extract_all(html, '(?is)<a\\s[^>]*>.*?</a>', 0) AS els
            FROM aug
          ), e AS (
            SELECT doc_id, url, els, unnest(generate_series(1, len(els))) AS i
            FROM anch
          ), hx AS (
            SELECT doc_id, url, CAST(i - 1 AS INT) AS link_pos,
              CASE WHEN regexp_extract(els[i], '(?is)href\\s*=\\s*"([^"]*)"', 1) != ''
                   THEN regexp_extract(els[i], '(?is)href\\s*=\\s*"([^"]*)"', 1)
                   ELSE regexp_extract(els[i], '(?is)href\\s*=\\s*''([^'']*)''', 1)
              END AS href,
              trim(regexp_replace(regexp_replace(els[i], '<[^>]*>', ' ', 'g'),
                   '\\s+', ' ', 'g')) AS anchor_text
            FROM e
          ), res AS (
            SELECT doc_id, link_pos, href, anchor_text,
              CASE
                WHEN regexp_matches(href, '^(?i)(mailto|javascript|data|tel):')
                     OR href LIKE '#%' THEN NULL
                WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN href
                WHEN href LIKE '//%' THEN
                  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)
                  || ':' || href
                WHEN href LIKE '/%' THEN
                  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1)
                  || href
                ELSE
                  regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]+)', 1)
                  || CASE WHEN regexp_replace(
                         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                         '[^/]*$', '') = '' THEN '/'
                     ELSE regexp_replace(
                         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
                         '[^/]*$', '') END
                  || href
              END AS resolved,
              lower(regexp_replace(
                regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                ':[0-9]+$', '')) AS base_host
            FROM hx WHERE href != ''
          )
          SELECT doc_id, link_pos, href, anchor_text, resolved,
            lower(regexp_replace(
              regexp_extract(resolved, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
              ':[0-9]+$', '')) AS dst_domain,
            CAST(CASE WHEN lower(regexp_replace(
                   regexp_extract(resolved, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1),
                   ':[0-9]+$', '')) = base_host
                 THEN 1 ELSE 0 END AS INT) AS is_internal
          FROM res
        """,
        # q107: the flat screen replay (shared met CTE) -> token
        # multiset vs ground-truth tokens ('Report', the id, and every
        # document token) -> the same integer per-mille metric
        # arithmetic as evaluate.token_overlap_eval.
        "q107_extraction_eval": _HTML_MET_CTE + """
          , pred AS (
            SELECT doc_id, unnest(string_split_regex(block_text, '\\s+'))
                     AS tok
            FROM met
            WHERE length(block_text) >= 25
              AND 3 * link_chars <= length(block_text)
          ), gold AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, unnest(w) AS tok
            FROM tok
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), 'Report' FROM tok
            UNION ALL
            SELECT CAST(doc_id AS VARCHAR), CAST(doc_id AS VARCHAR)
            FROM tok
          ), pc AS (
            SELECT doc_id, tok, count(*) AS c FROM pred
            GROUP BY doc_id, tok
          ), gc AS (
            SELECT doc_id, tok, count(*) AS c FROM gold
            GROUP BY doc_id, tok
          ), m AS (
            SELECT coalesce(pc.doc_id, gc.doc_id) AS doc_id,
                   coalesce(pc.c, 0) AS p, coalesce(gc.c, 0) AS g
            FROM pc FULL OUTER JOIN gc
              ON pc.doc_id = gc.doc_id AND pc.tok = gc.tok
          ), agg AS (
            SELECT doc_id, CAST(sum(p) AS BIGINT) AS n_pred,
                   CAST(sum(g) AS BIGINT) AS n_gold,
                   CAST(sum(least(p, g)) AS BIGINT) AS n_common
            FROM m GROUP BY doc_id
          )
          SELECT doc_id, n_pred, n_gold, n_common,
            CAST(CASE WHEN n_pred = 0 THEN 0
                 ELSE (1000 * n_common) // n_pred END AS INT)
              AS precision_milli,
            CAST(CASE WHEN n_gold = 0 THEN 0
                 ELSE (1000 * n_common) // n_gold END AS INT)
              AS recall_milli,
            CAST(CASE WHEN n_pred + n_gold = 0 THEN 0
                 ELSE (2000 * n_common) // (n_pred + n_gold) END AS INT)
              AS f1_milli
          FROM agg
        """,
        # q108: GROUND TRUTH span reconstruction — the interleave
        # construction (q88-family CTE shape) plus the leading h1 span;
        # offsets renumbered in interleaved order (h1=0, rest 1..n).
        "q108_html_to_spans": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), raw AS (
            SELECT doc_id, i*2 AS ord, 'text' AS kind,
                   array_to_string(w[i*12+1 : i*12+12], ' ') AS text,
                   '' AS media_ref
            FROM chunks
            UNION ALL
            SELECT doc_id, i*2+1,
                   CASE WHEN (doc_id + i) % 2 = 0 THEN 'image'
                        ELSE 'video' END,
                   '',
                   'asset-' || CAST(doc_id AS VARCHAR) || '-'
                     || CAST(i AS VARCHAR)
            FROM chunks WHERE i % 3 = 2
          ), s AS (
            SELECT doc_id, kind, text, media_ref,
                   row_number() OVER (PARTITION BY doc_id ORDER BY ord)
                     AS rn
            FROM raw
          )
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(rn AS INT)
                   AS offset, kind, text, media_ref
          FROM s
          UNION ALL
          SELECT CAST(doc_id AS VARCHAR), 0, 'text',
                 'Report ' || CAST(doc_id AS VARCHAR), ''
          FROM documents
        """,
        # q109: replay of the WARC record synthesis + the parse core's
        # anchored-header / lazy blank-line-split regexes
        # (sources/warc.py::parse_warc_records).
        "q109_warc_parse": _HTML_PAGE_CTE + """
          , wrec AS (
            SELECT doc_id, html,
                   CAST(doc_id AS BIGINT) % 10 = 3 AS is_req,
                   CAST(doc_id AS BIGINT) % 10 = 7 AS is_404
            FROM page
          ), built AS (
            SELECT doc_id,
              'WARC-Type: '
              || CASE WHEN is_req THEN 'request' ELSE 'response' END
              || chr(13) || chr(10) || 'WARC-Target-URI: https://site-'
              || CAST(CAST(doc_id AS BIGINT) % 50 AS VARCHAR)
              || '.test/doc/' || doc_id
              || chr(13) || chr(10) || 'WARC-Date: 2026-08-'
              || lpad(CAST(1 + CAST(doc_id AS BIGINT) % 28 AS VARCHAR),
                      2, '0')
              || 'T00:00:00Z'
              || chr(13) || chr(10) || 'Content-Length: '
              || CAST(length(CASE WHEN is_req THEN '' ELSE html END)
                      AS VARCHAR)
              || chr(13) || chr(10) || chr(13) || chr(10)
              || CASE WHEN is_req
                   THEN 'GET /doc/' || doc_id || ' HTTP/1.1'
                        || chr(13) || chr(10) || 'Host: site-x.test'
                   ELSE 'HTTP/1.1 '
                        || CASE WHEN is_404 THEN '404 Not Found'
                                ELSE '200 OK' END
                        || chr(13) || chr(10)
                        || 'Content-Type: text/html; charset=utf-8' END
              || chr(13) || chr(10) || chr(13) || chr(10)
              || CASE WHEN is_req THEN '' ELSE html END AS record
            FROM wrec
          ), parsed AS (
            SELECT doc_id,
              regexp_extract(record, '(?s)^(.*?)\\r?\\n\\r?\\n', 1) AS wh,
              regexp_extract(record,
                '(?s)^.*?\\r?\\n\\r?\\n(.*?)\\r?\\n\\r?\\n', 1) AS hh,
              regexp_extract(record,
                '(?s)^.*?\\r?\\n\\r?\\n.*?\\r?\\n\\r?\\n(.*)$', 1)
                AS payload
            FROM built
          )
          SELECT doc_id,
            regexp_extract(wh, '(?m)^WARC-Type:\\s*(\\S+)', 1)
              AS warc_type,
            regexp_extract(wh, '(?m)^WARC-Target-URI:\\s*(\\S+)', 1)
              AS target_uri,
            regexp_extract(wh, '(?m)^WARC-Date:\\s*(\\S+)', 1) AS warc_date,
            CAST(nullif(regexp_extract(hh,
              '(?m)^HTTP/[0-9.]+\\s+([0-9]{3})', 1), '') AS INT)
              AS http_status,
            nullif(regexp_extract(hh,
              '(?im)^Content-Type:\\s*([^\\r\\n]+)', 1), '')
              AS content_type,
            md5(payload) AS body_md5,
            CAST(length(payload) AS INT) AS body_chars
          FROM parsed
        """,
        # q110: replay of the metadata injection + the order-tolerant
        # coalesced attribute extraction (operators/html.py::page_metadata).
        "q110_page_metadata": _HTML_PAGE_CTE + """
          , inj AS (
            SELECT doc_id,
              replace(html, '</head>',
                CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0 THEN ''
                     WHEN CAST(doc_id AS BIGINT) % 2 = 0 THEN
                       '<meta content="Synthetic report ' || doc_id
                       || ' summary" name="description"/>'
                     ELSE
                       '<meta name="description" content="Synthetic report '
                       || doc_id || ' summary"/>' END
                || CASE WHEN CAST(doc_id AS BIGINT) % 4 = 0 THEN ''
                        ELSE '<link rel="canonical" href="https://site-'
                          || CAST(CAST(doc_id AS BIGINT) % 50 AS VARCHAR)
                          || '.test/doc/' || doc_id || '"/>' END
                || CASE WHEN CAST(doc_id AS BIGINT) % 5 = 0 THEN ''
                        ELSE '<meta property="og:title" content="Report '
                          || doc_id || '"/>' END
                || '</head>') AS html
            FROM page
          ), ex AS (
            SELECT doc_id, html,
              regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)
                AS raw_title,
              regexp_extract(html,
                '(?is)<meta\\s[^>]*name\\s*=\\s*"description"[^>]*content\\s*=\\s*"([^"]*)"',
                1) AS d_a,
              regexp_extract(html,
                '(?is)<meta\\s[^>]*content\\s*=\\s*"([^"]*)"[^>]*name\\s*=\\s*"description"',
                1) AS d_b,
              regexp_extract(html,
                '(?is)<link\\s[^>]*rel\\s*=\\s*"canonical"[^>]*href\\s*=\\s*"([^"]*)"',
                1) AS c_a,
              regexp_extract(html,
                '(?is)<link\\s[^>]*href\\s*=\\s*"([^"]*)"[^>]*rel\\s*=\\s*"canonical"',
                1) AS c_b,
              regexp_extract(html,
                '(?is)<meta\\s[^>]*property\\s*=\\s*"og:title"[^>]*content\\s*=\\s*"([^"]*)"',
                1) AS o_a,
              regexp_extract(html,
                '(?is)<meta\\s[^>]*content\\s*=\\s*"([^"]*)"[^>]*property\\s*=\\s*"og:title"',
                1) AS o_b
            FROM inj
          )
          SELECT doc_id,
            nullif(trim(regexp_replace(regexp_replace(raw_title,
              '<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')), '') AS title,
            nullif(CASE WHEN d_a != '' THEN d_a ELSE d_b END, '')
              AS meta_description,
            nullif(CASE WHEN c_a != '' THEN c_a ELSE c_b END, '')
              AS canonical_url,
            nullif(CASE WHEN o_a != '' THEN o_a ELSE o_b END, '')
              AS og_title
          FROM ex
        """,
        # q122: all four BPE merge rounds replayed — see _bpe_oracle_sql.
        "q122_bpe_train": _bpe_oracle_sql(4),
        # q127: same replay; the s4 state IS the segmentation after 4
        # merges — the histogram weights each word's tokens by its count.
        "q127_bpe_vocab": _bpe_oracle_sql(
            4,
            final_select=(
                "SELECT tk AS token, SUM(cnt)::BIGINT AS n_occurrences\n"
                "FROM (SELECT cnt, unnest(syms) AS tk FROM s4) GROUP BY 1"
            ),
        ),
        # q156: same replay; s4's per-word segmentation joined back to
        # per-doc word rows carrying lang, then exact ppm fertility.
        "q156_tokenizer_fertility": _bpe_oracle_sql(
            4,
            final_select=(
                "SELECT t.lang, count(*)::BIGINT AS n_words,\n"
                "       SUM(len(s4.syms))::BIGINT AS n_subwords,\n"
                "       SUM(length(t.word))::BIGINT AS n_chars,\n"
                "       CAST(SUM(len(s4.syms)) * 1000000 // count(*)\n"
                "            AS BIGINT) AS subwords_per_word_ppm,\n"
                "       CAST(SUM(length(t.word)) * 1000000\n"
                "            // SUM(len(s4.syms)) AS BIGINT)\n"
                "         AS chars_per_subword_ppm\n"
                "FROM (SELECT lang,\n"
                "             unnest(string_split_regex(trim(text),"
                " '\\s+')) AS word\n"
                "      FROM documents) t\n"
                "JOIN s4 ON s4.word = t.word\n"
                "WHERE t.word <> ''\n"
                "GROUP BY 1"
            ),
        ),
        # q132: identical CUBE planes; GROUPING(lang, source) packs the
        # same bit order as Spark's grouping_id.
        "q132_stats_cube": r"""
          WITH base AS (
            SELECT lang, source,
                   len(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                                   x -> x <> ''))::BIGINT AS ntok
            FROM documents)
          SELECT lang, source, count(*)::BIGINT AS n_docs,
                 SUM(ntok)::BIGINT AS n_tokens,
                 GROUPING(lang, source)::INT AS gid
          FROM base GROUP BY CUBE(lang, source)
        """,
        # q133: lag/lead parity — the (ts, event_id) order is total, so
        # adjacency is engine-independent.
        "q133_event_transitions": """
          WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            FROM events),
          pairs AS (
            SELECT event_type AS from_type, next_type AS to_type,
                   count(*)::BIGINT AS n_transitions
            FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
          SELECT from_type, to_type, n_transitions,
                 CASE WHEN row_number() OVER (
                        PARTITION BY from_type
                        ORDER BY n_transitions DESC, to_type) = 1
                      THEN 1 ELSE 0 END::INT AS is_top_successor
          FROM pairs
        """,
        # q134: integer epoch-day arithmetic (same floor(epoch) device
        # as q68), exact distinct users per retention cell.
        # q136: the final view recomputed straight from the DML
        # algebra — five incremental delta folds must land exactly here.
        "q136_incremental_view": """
          WITH o AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders),
          fin AS (
            SELECT o_orderkey, o_custkey,
                   CASE WHEN o_orderkey % 10 = 3
                        THEN cents + 100000 ELSE cents END AS cents
            FROM o WHERE o_orderkey % 7 <> 0
            UNION ALL SELECT -1::BIGINT, 1::BIGINT, 150::BIGINT
            UNION ALL SELECT -2::BIGINT, 2::BIGINT, 250::BIGINT)
          SELECT o_custkey,
                 SUM(cents)::BIGINT AS sum_cents,
                 COUNT(*)::BIGINT AS n_rows
          FROM fin GROUP BY o_custkey
        """,
        # q135: GROUND TRUTH - the repair must reconstruct the planted
        # (pre-corruption) text exactly, detect exactly the corrupted
        # class, and count exactly the planted accents; the oracle never
        # simulates the corruption, it emits the expected end state.
        "q135_mojibake": """
          WITH base AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 4 IN (1, 2)
                        THEN translate(coalesce(text, ''),
                                       'aeu', '\u00e4\u00e9\u00fc')
                        ELSE coalesce(text, '') END AS planted
            FROM documents)
          SELECT doc_id,
                 (doc_id % 4 = 1
                  AND regexp_matches(planted, '[\u00e4\u00e9\u00fc]'))
                   AS was_mojibake,
                 CASE WHEN doc_id % 4 = 1
                      THEN (length(planted)
                            - length(regexp_replace(
                                planted, '[\u00e4\u00e9\u00fc]', '', 'g')))
                      ELSE 0 END::INT AS n_fixed,
                 md5(planted) AS fixed_md5,
                 TRUE AS restored
          FROM base
        """,
        "q134_cohort_retention": """
          WITH ev AS (
            SELECT user_id,
                   (CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d
            FROM events),
          first AS (SELECT user_id, min(d) AS cohort_d FROM ev GROUP BY 1)
          SELECT cohort_d, d AS activity_d,
                 count(DISTINCT ev.user_id)::BIGINT AS n_users,
                 count(*)::BIGINT AS n_events,
                 (d - cohort_d)::INT AS day_offset
          FROM ev JOIN first USING (user_id)
          GROUP BY cohort_d, d
        """,
        # q137: the same degree-ordered orientation + wedge closure —
        # row-value tuple comparisons replay the (degree, node) total
        # order; // is integer division on BIGINT, matching Spark's div.
        "q137_triangles": """
          WITH raw AS (
            SELECT (doc_id % 101) AS u, ((doc_id * 3 + 1) % 101) AS v
            FROM documents
            UNION ALL
            SELECT (doc_id % 101), ((doc_id * 7 + 2) % 101) FROM documents
            UNION ALL
            SELECT (doc_id % 101), ((doc_id + 1) % 101) FROM documents),
          e AS (
            SELECT DISTINCT least(u, v)::BIGINT AS a,
                            greatest(u, v)::BIGINT AS b
            FROM raw WHERE u <> v),
          deg AS (
            SELECT node, count(*)::BIGINT AS degree FROM (
              SELECT a AS node FROM e UNION ALL SELECT b FROM e)
            GROUP BY 1),
          o AS (
            SELECT CASE WHEN (da.degree, e.a) < (db.degree, e.b)
                        THEN e.a ELSE e.b END AS o_src,
                   CASE WHEN (da.degree, e.a) < (db.degree, e.b)
                        THEN e.b ELSE e.a END AS o_dst
            FROM e
            JOIN deg da ON da.node = e.a
            JOIN deg db ON db.node = e.b),
          tri AS (
            SELECT w1.o_src AS p, w1.o_dst AS x, w2.o_dst AS y
            FROM o w1
            JOIN o w2 ON w1.o_src = w2.o_src
            JOIN deg dx ON dx.node = w1.o_dst
            JOIN deg dy ON dy.node = w2.o_dst
            JOIN o c ON c.o_src = w1.o_dst AND c.o_dst = w2.o_dst
            WHERE (dx.degree, w1.o_dst) < (dy.degree, w2.o_dst)),
          corners AS (
            SELECT node, count(*)::BIGINT AS n_triangles FROM (
              SELECT p AS node FROM tri
              UNION ALL SELECT x FROM tri
              UNION ALL SELECT y FROM tri)
            GROUP BY 1)
          SELECT deg.node, deg.degree,
                 coalesce(c.n_triangles, 0)::BIGINT AS n_triangles,
                 (CASE WHEN deg.degree >= 2
                       THEN (2 * coalesce(c.n_triangles, 0) * 1000000)
                            // (deg.degree * (deg.degree - 1))
                       ELSE 0 END)::BIGINT AS clustering_ppm
          FROM deg LEFT JOIN corners c ON c.node = deg.node
        """,
        # q138: the greedy earliest-match fold replayed as per-step
        # QUALIFY chains — step k = first qualifying event after step
        # k-1's match in the (us, eid) total order, within 24 h of the
        # anchor. epoch_us over naive timestamps == Spark's UTC-session
        # unix_micros (q134 precedent).
        "q138_funnel": """
          WITH ev AS (
            SELECT user_id, event_type,
                   epoch_us(ts)::BIGINT AS us, event_id::BIGINT AS eid
            FROM events
            WHERE event_type IN ('signup', 'view', 'purchase')),
          users AS (SELECT DISTINCT user_id FROM ev),
          s1 AS (
            SELECT user_id, us, eid FROM ev WHERE event_type = 'signup'
            QUALIFY row_number() OVER (
              PARTITION BY user_id ORDER BY us, eid) = 1),
          s2 AS (
            SELECT e.user_id, e.us, e.eid, s1.us AS anchor
            FROM ev e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'view'
              AND (e.us, e.eid) > (s1.us, s1.eid)
              AND e.us <= s1.us + 86400000000
            QUALIFY row_number() OVER (
              PARTITION BY e.user_id ORDER BY e.us, e.eid) = 1),
          s3 AS (
            SELECT e.user_id, e.us, e.eid
            FROM ev e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase'
              AND (e.us, e.eid) > (s2.us, s2.eid)
              AND e.us <= s2.anchor + 86400000000
            QUALIFY row_number() OVER (
              PARTITION BY e.user_id ORDER BY e.us, e.eid) = 1)
          SELECT u.user_id,
                 (CASE WHEN s3.user_id IS NOT NULL THEN 3
                       WHEN s2.user_id IS NOT NULL THEN 2
                       WHEN s1.user_id IS NOT NULL THEN 1
                       ELSE 0 END)::INT AS n_steps,
                 (s3.user_id IS NOT NULL) AS completed,
                 s1.us AS anchor_us,
                 coalesce(s3.us, s2.us, s1.us) AS last_us
          FROM users u
          LEFT JOIN s1 USING (user_id)
          LEFT JOIN s2 USING (user_id)
          LEFT JOIN s3 USING (user_id)
        """,
        # q131: the DML algebra's own net delta — final state vs the
        # post-append state, EXCEPT ALL both directions (multiset).
        "q131_snapshot_diff": """
          WITH o AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders),
          fin AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 10 = 3
                        THEN o_totalprice + 1000.0
                        ELSE o_totalprice END AS o_totalprice
            FROM o WHERE o_orderkey % 7 <> 0
            UNION ALL
            SELECT -1::BIGINT, 1::BIGINT, 'X', 1.5::DOUBLE
            UNION ALL
            SELECT -2::BIGINT, 2::BIGINT, 'X', 2.5::DOUBLE),
          ins AS (SELECT * FROM fin EXCEPT ALL SELECT * FROM o),
          del AS (SELECT * FROM o EXCEPT ALL SELECT * FROM fin)
          SELECT *, 'insert' AS change_type FROM ins
          UNION ALL
          SELECT *, 'delete' AS change_type FROM del
        """,
        # q130: synthesis, HUGEINT product sums, both sign-magnitude
        # divisions and the lag-gap line count replayed in SQL.
        "q130_deskew": r"""
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS ws
            FROM documents),
          wrd AS (SELECT doc_id, (i - 1)::BIGINT AS idx
                  FROM base, unnest(generate_series(1, len(ws))) AS t(i)),
          geo AS (
            SELECT doc_id,
              ((doc_id % 21) - 10) * 5000 AS s,
              (idx % 6) * 1000000 + 1000000 AS xm,
              (idx // 6) * 300000 + 1000000
                + CASE WHEN ((doc_id % 21) - 10) * 5000 < 0
                  THEN -((abs(((doc_id % 21) - 10) * 5000)
                          * ((idx % 6) * 1000000 + 1000000)) // 1000000)
                  ELSE ((((doc_id % 21) - 10) * 5000)
                          * ((idx % 6) * 1000000 + 1000000)) // 1000000 END
                AS ym
            FROM wrd),
          st AS (SELECT doc_id, count(*)::BIGINT AS n,
                        SUM(xm)::HUGEINT AS sx, SUM(ym)::HUGEINT AS sy,
                        SUM(xm::HUGEINT * xm) AS sxx,
                        SUM(xm::HUGEINT * ym) AS sxy
                 FROM geo GROUP BY 1),
          sl AS (SELECT doc_id, n,
                   CASE WHEN den = 0 THEN 0
                        WHEN num < 0 THEN -((abs(num) * 1000000) // den)
                        ELSE (num * 1000000) // den END::BIGINT AS slope_ppm
                 FROM (SELECT doc_id, n,
                         n::HUGEINT * sxy - sx * sy AS num,
                         n::HUGEINT * sxx - sx * sx AS den
                       FROM st)),
          yp AS (SELECT g.doc_id,
                   CASE WHEN slope_ppm < 0
                        THEN ym + (abs(slope_ppm) * xm) // 1000000
                        ELSE ym - (slope_ppm * xm) // 1000000 END AS yp
                 FROM geo g JOIN sl USING (doc_id)),
          ln AS (SELECT doc_id,
                   SUM(CASE WHEN prev IS NULL OR yp - prev > 150000
                       THEN 1 ELSE 0 END)::INT AS n_lines
                 FROM (SELECT doc_id, yp,
                         lag(yp) OVER (PARTITION BY doc_id ORDER BY yp) AS prev
                       FROM yp) GROUP BY 1)
          SELECT sl.doc_id, 0::INT AS page, n AS n_words, slope_ppm, n_lines
          FROM sl JOIN ln USING (doc_id)
        """,
        # q129: both waves' hashing, per-side k-minima, the union
        # re-cut, bottom-k Jaccard and every estimator replayed in SQL
        # (same md5-uniform as q51: (h+1)/2^60, salt 's129', k=8).
        "q129_kmv_set_ops": """
          WITH prev AS (
            SELECT 'site-' || (doc_id % 50) AS host, md5(text) AS dg
            FROM documents),
          curr AS (
            SELECT 'site-' || (doc_id % 50) AS host,
                   CASE WHEN doc_id % 5 = 0 THEN md5(text || 'v2')
                        ELSE md5(text) END AS dg
            FROM documents WHERE doc_id % 7 <> 0
            UNION ALL
            SELECT 'site-' || (doc_id % 50) AS host, md5('new' || doc_id) AS dg
            FROM documents WHERE doc_id % 11 = 0),
          ua AS (SELECT DISTINCT host,
                   (CAST(concat('0x', substring(md5(dg || 's129'), 1, 15)) AS BIGINT) + 1.0)
                     / 1152921504606846976.0 AS u
                 FROM prev),
          ub AS (SELECT DISTINCT host,
                   (CAST(concat('0x', substring(md5(dg || 's129'), 1, 15)) AS BIGINT) + 1.0)
                     / 1152921504606846976.0 AS u
                 FROM curr),
          ra AS (SELECT host, u FROM (
                   SELECT host, u, row_number() OVER (PARTITION BY host ORDER BY u) AS rn
                   FROM ua) WHERE rn <= 8),
          rb AS (SELECT host, u FROM (
                   SELECT host, u, row_number() OVER (PARTITION BY host ORDER BY u) AS rn
                   FROM ub) WHERE rn <= 8),
          un AS (SELECT host, u FROM (
                   SELECT host, u, row_number() OVER (PARTITION BY host ORDER BY u) AS rn
                   FROM (SELECT DISTINCT host, u FROM
                          (SELECT * FROM ra UNION ALL SELECT * FROM rb)))
                 WHERE rn <= 8),
          sa AS (SELECT host, count(*) AS na, max(u) AS ka FROM ra GROUP BY 1),
          sb AS (SELECT host, count(*) AS nb, max(u) AS kb FROM rb GROUP BY 1),
          su AS (SELECT host, count(*) AS nu, max(u) AS ku FROM un GROUP BY 1),
          com AS (SELECT un.host, count(*) AS c FROM un
                  JOIN ra ON ra.host = un.host AND ra.u = un.u
                  JOIN rb ON rb.host = un.host AND rb.u = un.u
                  GROUP BY 1)
          SELECT su.host,
            round(CASE WHEN coalesce(na, 0) < 8 THEN coalesce(na, 0) * 1.0
                       ELSE 7.0 / ka END, 4) AS est_a,
            round(CASE WHEN coalesce(nb, 0) < 8 THEN coalesce(nb, 0) * 1.0
                       ELSE 7.0 / kb END, 4) AS est_b,
            round(CASE WHEN nu < 8 THEN nu * 1.0 ELSE 7.0 / ku END, 4)
              AS est_union,
            round(coalesce(c, 0) * 1.0 / nu, 6) AS jaccard,
            round(coalesce(c, 0) * 1.0 / nu
                  * (CASE WHEN nu < 8 THEN nu * 1.0 ELSE 7.0 / ku END), 4)
              AS est_intersection
          FROM su
          LEFT JOIN sa USING (host) LEFT JOIN sb USING (host)
          LEFT JOIN com USING (host)
        """,
        # q128: GROUND TRUTH — top trigram + every match position
        # recomputed straight from the text, never from the index.
        "q128_phrase_search": r"""
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS w
            FROM documents),
          tri AS (
            SELECT doc_id, w[i] AS a, w[i+1] AS b, w[i+2] AS c, i
            FROM base, unnest(generate_series(1, len(w) - 2)) AS t(i)
            WHERE len(w) >= 3),
          top AS (SELECT a, b, c FROM tri GROUP BY 1, 2, 3
                  ORDER BY count(*) DESC, a, b, c LIMIT 1)
          SELECT doc_id, count(*)::INT AS n_matches,
                 (min(i) - 1)::INT AS first_pos
          FROM tri JOIN top USING (a, b, c)
          GROUP BY doc_id
        """,
        # q126: corruption replayed, then the SymSpell construction
        # itself — deletion variants (i=0 keeps the word), variant
        # equi-join, exact levenshtein verify on deduped pairs.
        "q126_edit1_pairs": r"""
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS ws
            FROM documents),
          tok AS (
            SELECT CASE WHEN (doc_id * 31 + (i - 1)) % 11 = 0
                             AND length(ws[i]) >= 5
                   THEN substr(ws[i], 1, length(ws[i]) // 2 - 1)
                        || substr(ws[i], length(ws[i]) // 2 + 1)
                   ELSE ws[i] END AS w
            FROM base, unnest(generate_series(1, len(ws))) AS t(i)),
          v AS (SELECT w, count(*)::BIGINT AS cnt FROM tok
                WHERE w <> '' GROUP BY 1 HAVING length(w) <= 20),
          vv AS (SELECT DISTINCT w,
                   CASE WHEN i = 0 THEN w
                        ELSE substr(w, 1, i - 1) || substr(w, i + 1) END AS var
                 FROM v, unnest(generate_series(0, length(w))) AS t(i)),
          c AS (SELECT DISTINCT a.w AS word_a, b.w AS word_b
                FROM vv a JOIN vv b ON a.var = b.var AND a.w < b.w)
          SELECT word_a, word_b, va.cnt AS count_a, vb.cnt AS count_b,
                 levenshtein(word_a, word_b)::INT AS dist
          FROM c JOIN v va ON va.w = word_a JOIN v vb ON vb.w = word_b
          WHERE levenshtein(word_a, word_b) <= 1
        """,
        # q125: GROUND TRUTH — the expected column-major permutation is
        # derived from the synthesis arithmetic alone (left column =
        # even fragment indices top-down, then the right column); the
        # sweep itself is never replayed, so a missed or hallucinated
        # gutter cannot cancel out.
        "q125_reading_order": r"""
          WITH base AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS w
            FROM documents),
          fr AS (SELECT doc_id, ((len(w) + 2) // 3)::BIGINT AS nf FROM base),
          fx AS (SELECT doc_id, nf, unnest(generate_series(0, nf - 1)) AS i
                 FROM fr WHERE nf >= 1)
          SELECT doc_id, i::INT AS frag_id,
            CASE WHEN doc_id % 3 <> 0 AND nf >= 2 THEN 2 ELSE 1 END::INT
              AS n_columns,
            CASE WHEN doc_id % 3 <> 0 AND nf >= 2 THEN (i % 2) ELSE 0 END::INT
              AS col_idx,
            CASE WHEN doc_id % 3 <> 0 AND nf >= 2
                 THEN (CASE WHEN i % 2 = 0 THEN i // 2
                            ELSE (nf + 1) // 2 + i // 2 END)
                 ELSE i END::INT AS read_ord
          FROM fx
        """,
        # q124: GROUND TRUTH — the repair must reconstruct the original
        # text exactly (whitespace-normalized) and count exactly the
        # synthesis's splits; the oracle recomputes both from documents
        # without replaying the fold.
        "q124_dehyphenate": r"""
          WITH base AS (
            SELECT doc_id, trim(coalesce(text, '')) AS tx,
                   list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                               x -> x <> '') AS w
            FROM documents),
          ex AS (
            SELECT doc_id, w[i] AS word, i
            FROM base, unnest(generate_series(1, len(w))) AS t(i)),
          cnt AS (
            SELECT doc_id, SUM(CASE WHEN (i-1) % 7 = 3 AND length(word) >= 4
              AND regexp_matches(substr(word, length(word) // 2, 1), '^[A-Za-z]$')
              AND regexp_matches(substr(word, length(word) // 2 + 1, 1), '^[a-z]$')
              THEN 1 ELSE 0 END)::INT AS n_joins
            FROM ex GROUP BY 1)
          SELECT b.doc_id,
                 regexp_replace(b.tx, '\s+', ' ', 'g') AS text_repaired,
                 COALESCE(c.n_joins, 0)::INT AS n_joins
          FROM base b LEFT JOIN cnt c USING (doc_id)
        """,
        # q123: HITS replayed over HUGEINT — exact long sums, integer
        # max-normalization ((x * scale) // max), per-iteration left
        # joins back onto the node set; matches graph.hits bit-exactly.
        "q123_hits": """
          WITH RECURSIVE
          edges AS (
            SELECT src, dst FROM (
              SELECT (doc_id % 199)::BIGINT AS src,
                     ((doc_id*13+5) % 199)::BIGINT AS dst FROM documents
              UNION ALL
              SELECT (doc_id % 199)::BIGINT,
                     ((doc_id*29+11) % 199)::BIGINT FROM documents)
            WHERE src % 17 <> 0 GROUP BY src, dst),
          nodes AS (SELECT DISTINCT node FROM
            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
          st(iter, node, h, a) AS (
            SELECT 0, node, 1000000000000::BIGINT, 0::BIGINT FROM nodes
            UNION ALL
            SELECT iter + 1, node, h, a FROM (
              WITH prev AS (SELECT * FROM st),
              ar AS (SELECT e.dst AS node, SUM(p.h)::BIGINT AS ar
                     FROM prev p JOIN edges e ON e.src = p.node GROUP BY 1),
              am AS (SELECT MAX(ar) AS amax FROM ar),
              an AS (SELECT node,
                       ((ar::HUGEINT * 1000000000000) // greatest(amax, 1))::BIGINT AS an
                     FROM ar, am),
              hr AS (SELECT e.src AS node, SUM(x.an)::BIGINT AS hr
                     FROM an x JOIN edges e ON e.dst = x.node GROUP BY 1),
              hm AS (SELECT MAX(hr) AS hmax FROM hr),
              hn AS (SELECT node,
                       ((hr::HUGEINT * 1000000000000) // greatest(hmax, 1))::BIGINT AS hn
                     FROM hr, hm)
              SELECT p.iter, p.node,
                     COALESCE(hn.hn, 0)::BIGINT AS h,
                     COALESCE(an.an, 0)::BIGINT AS a
              FROM prev p
              LEFT JOIN an ON an.node = p.node
              LEFT JOIN hn ON hn.node = p.node
            ) WHERE iter + 1 <= 8)
          SELECT node, h AS hub_micro, a AS auth_micro
          FROM st WHERE iter = 8
        """,
        # q121: cosine vs every benchmark vector, argmax with lowest-id
        # tie-break, threshold verdict — replayed in SQL.
        "q121_semantic_decontam": f"""
          WITH b AS (
            SELECT vec_id AS b_id, embedding AS b_vec
            FROM embeddings WHERE vec_id % 37 = 0),
          c AS (
            SELECT vec_id AS id, embedding
            FROM embeddings WHERE vec_id % 37 <> 0),
          p AS (
            SELECT c.id, b.b_id,
                   round({_cos_sql('c.embedding', 'b.b_vec')}, 6) AS cs
            FROM c, b),
          r AS (
            SELECT id, b_id, cs,
              row_number() OVER (
                PARTITION BY id ORDER BY cs DESC, b_id ASC) AS rn
            FROM p)
          SELECT id, b_id AS nearest_benchmark, cs AS max_cos,
            CAST(CASE WHEN cs >= 0.35 THEN 1 ELSE 0 END AS INT)
              AS contaminated
          FROM r WHERE rn = 1
        """,
        # q120: IVF-PQ replayed in SQL — lowest-id centroids (q39's CTE),
        # lowest-id-sliced codebooks, per-subspace argmax encoding,
        # integer micro-dot ADC table, both rank windows, exact rerank.
        "q120_ivf_pq_ann": f"""
          WITH cent AS (
            SELECT vec_id AS c_id, embedding AS c_vec
            FROM embeddings ORDER BY vec_id LIMIT 16),
          cw AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c,
                   embedding AS w
            FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
          subs AS (SELECT unnest(generate_series(0, 7)) AS j),
          ac AS (
            SELECT e.vec_id AS neighbor_id, c.c_id,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round({_cos_sql('e.embedding', 'c.c_vec')}, 6)
                       DESC, c.c_id ASC
                   ) AS c_rank
            FROM embeddings e, cent c),
          assigned AS (
            SELECT neighbor_id, c_id AS cell FROM ac WHERE c_rank = 1),
          encdot AS (
            SELECT e.vec_id, s.j, cw.c,
              round(list_sum([CAST(e.embedding[s.j*8 + i] AS DOUBLE)
                              * CAST(cw.w[s.j*8 + i] AS DOUBLE)
                              for i in generate_series(1, 8)]), 6) AS dt
            FROM embeddings e, subs s, cw),
          enc AS (
            SELECT vec_id, j, c FROM (
              SELECT *, row_number() OVER (
                PARTITION BY vec_id, j ORDER BY dt DESC, c ASC) AS r
              FROM encdot)
            WHERE r = 1),
          qc AS (
            SELECT q.vec_id AS q_id, c.c_id AS cell,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_cos_sql('q.embedding', 'c.c_vec')}, 6)
                       DESC, c.c_id ASC
                   ) AS c_rank
            FROM embeddings q, cent c WHERE q.vec_id < 10),
          probes0 AS (SELECT q_id, cell FROM qc WHERE c_rank <= 4),
          qd AS (
            SELECT q.vec_id AS q_id, s.j, cw.c,
              CAST(round(list_sum([CAST(q.embedding[s.j*8 + i] AS DOUBLE)
                                   * CAST(cw.w[s.j*8 + i] AS DOUBLE)
                                   for i in generate_series(1, 8)])
                         * 1000000) AS BIGINT) AS md
            FROM embeddings q, subs s, cw WHERE q.vec_id < 10),
          cand AS (
            SELECT a.neighbor_id, p.q_id, sum(qd.md) AS adc
            FROM assigned a
            JOIN probes0 p ON a.cell = p.cell
            JOIN enc x ON x.vec_id = a.neighbor_id
            JOIN qd ON qd.q_id = p.q_id AND qd.j = x.j AND qd.c = x.c
            WHERE a.neighbor_id <> p.q_id
            GROUP BY 1, 2),
          topm AS (
            SELECT q_id, neighbor_id FROM (
              SELECT *, row_number() OVER (
                PARTITION BY q_id ORDER BY adc DESC, neighbor_id ASC)
                AS crank
              FROM cand)
            WHERE crank <= 30),
          scored AS (
            SELECT t.q_id, t.neighbor_id,
                   round({_cos_sql('e.embedding', 'q.embedding')}, 6)
                     AS score
            FROM topm t
            JOIN embeddings e ON e.vec_id = t.neighbor_id
            JOIN embeddings q ON q.vec_id = t.q_id)
          SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score
          FROM (
            SELECT *, row_number() OVER (
              PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC)
              AS rank
            FROM scored)
          WHERE rank <= 10
        """,
        # q118: synthesis (site digests + half-coverage mirror hosts on
        # every 10th site), the >20-host digest prune, the digest-keyed
        # pair join and the integer-ppm containment rule replayed in SQL.
        "q118_host_mirrors": """
          WITH d AS (
            SELECT CAST(doc_id AS BIGINT) AS n, text FROM documents
          ), rows0 AS (
            SELECT 'site-' || CAST(n % 50 AS VARCHAR) || '.test' AS host,
                   md5(text) AS digest
            FROM d
            UNION ALL
            SELECT 'mirror-' || CAST(n % 50 AS VARCHAR) || '.test',
                   md5(text)
            FROM d WHERE (n % 50) % 10 = 0 AND n % 2 = 0
          ), sets AS (
            SELECT DISTINCT host, digest FROM rows0
          ), sizes AS (
            SELECT host, count(*) AS size FROM sets GROUP BY 1
          ), keep AS (
            SELECT digest FROM sets GROUP BY digest HAVING count(*) <= 20
          ), pr AS (
            SELECT s.host, s.digest FROM sets s JOIN keep USING (digest)
          ), sh AS (
            SELECT a.host AS host_a, b.host AS host_b, count(*) AS shared
            FROM pr a JOIN pr b
              ON a.digest = b.digest AND a.host < b.host
            GROUP BY 1, 2
          ), j AS (
            SELECT host_a, host_b, shared,
                   sa.size AS size_a, sb.size AS size_b,
                   (shared * 1000000) // sa.size AS containment_a_ppm,
                   (shared * 1000000) // sb.size AS containment_b_ppm
            FROM sh
            JOIN sizes sa ON sa.host = host_a
            JOIN sizes sb ON sb.host = host_b
          )
          SELECT * FROM j
          WHERE shared >= 2
            AND greatest(containment_a_ppm, containment_b_ppm) >= 800000
        """,
        # q119: synthesis (drop every 7th, modify every 3rd, add a /new/
        # URL for every 5th), the full-outer verdict CASE and the
        # per-host integer-ppm rollup replayed in SQL.
        "q119_recrawl_delta": recrawl_sql,
        "q148_recrawl_schedule": f"""
          WITH rates AS ({recrawl_sql})
          SELECT host, CAST(change_ppm AS BIGINT) AS change_ppm,
                 CASE WHEN n_new + n_modified + n_unchanged = 0 THEN 'dead'
                      WHEN change_ppm >= 200000 THEN 'hot'
                      WHEN change_ppm <= 10000 THEN 'cold'
                      ELSE 'warm' END AS tier,
                 CAST(CASE WHEN n_new + n_modified + n_unchanged = 0
                           THEN 720
                           ELSE least(greatest(
                                  CAST(168 AS BIGINT) * 100000
                                  // greatest(change_ppm, 1), 6), 720)
                      END AS BIGINT) AS interval_hours
          FROM rates
        """,
        # q117: the same redirect map synthesized in SQL, then the walk
        # replayed as a recursive CTE stepping to the same 8-hop cap;
        # final row per url = max-hops row; status by out-edge EXISTS.
        "q117_redirect_resolution": """
          WITH RECURSIVE d AS (
            SELECT CAST(doc_id AS BIGINT) AS n FROM documents
          ), e AS (
            SELECT 'https://x.test/r/' || CAST(n AS VARCHAR) AS src,
              'https://x.test/r/' || CAST(
                CASE WHEN n % 100 = 55 THEN n - 1 ELSE n + 1 END
                AS VARCHAR) AS dst
            FROM d WHERE n % 100 = 55 OR n % 10 <> 9
          ), s AS (
            SELECT 'https://x.test/r/' || CAST(n AS VARCHAR) AS url FROM d
          ), walk AS (
            SELECT url, url AS cur, 0 AS hops FROM s
            UNION ALL
            SELECT w.url, e.dst, w.hops + 1
            FROM walk w JOIN e ON w.cur = e.src
            WHERE w.hops < 8
          ), f AS (
            SELECT url, cur, hops,
              row_number() OVER (PARTITION BY url ORDER BY hops DESC)
                AS rn
            FROM walk
          )
          SELECT url, cur AS final_url, hops,
            CASE WHEN EXISTS (SELECT 1 FROM e WHERE e.src = f.cur)
                 THEN 'cycle_or_long' ELSE 'resolved' END AS status
          FROM f WHERE rn = 1
        """,
        # q116: GROUND TRUTH — the known 8-anchor-per-page link set
        # synthesized from documents; counts, the windowed top-2 term
        # cut, and the totals join replayed in SQL.
        "q116_anchor_stats": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
          ), links AS (
            SELECT n AS src, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/home' AS url, 'Home' AS anchor FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/about', 'About us' FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/doc/' || doc_id, 'Doc ' || doc_id FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/terms', 'Terms of service' FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/privacy', 'Privacy policy' FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/contact', 'Contact' FROM d
            UNION ALL SELECT n, 'https://site-'
              || CAST((7 * n + 1) % 50 AS VARCHAR)
              || '.test/doc/' || doc_id, 'Related reading' FROM d
            UNION ALL SELECT n, 'https://site-'
              || CAST((13 * n + 2) % 50 AS VARCHAR)
              || '.test/', 'Partner site' FROM d
          ), totals AS (
            SELECT url, count(*) AS n_refs,
                   count(DISTINCT src) AS n_sources
            FROM links GROUP BY 1
          ), terms AS (
            SELECT url, t AS term, count(*) AS cnt
            FROM (
              SELECT url,
                unnest(string_split_regex(lower(trim(anchor)), '\\s+'))
                  AS t
              FROM links)
            WHERE t != '' GROUP BY 1, 2
          ), top AS (
            SELECT url, term,
              row_number() OVER (
                PARTITION BY url ORDER BY cnt DESC, term) AS rn
            FROM terms
          ), ta AS (
            SELECT url, string_agg(term, ' ' ORDER BY rn) AS top_terms
            FROM top WHERE rn <= 2 GROUP BY url
          )
          SELECT t.url, n_refs, n_sources,
                 coalesce(top_terms, '') AS top_terms
          FROM totals t LEFT JOIN ta USING (url)
        """,
        # q115: replay of the URL synthesis (doc + 3 calendar-generator +
        # 2 static URLs), the two templating regexes (query values ->
        # '=V', digit runs -> 'N'), and the integer-ppm trap rule.
        "q115_trap_families": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
          ), u AS (
            SELECT 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/doc/' || doc_id AS url FROM d
            UNION ALL
            SELECT 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/cal/2026/' || CAST(n % 12 + 1 AS VARCHAR) || '/'
              || CAST(n % 28 + 1 AS VARCHAR) || '?page='
              || CAST(j AS VARCHAR)
            FROM d, (VALUES (1), (2), (3)) AS p(j)
            UNION ALL
            SELECT 'https://site-' || CAST(k AS VARCHAR) || '.test/about'
            FROM (SELECT DISTINCT n % 50 AS k FROM d)
            UNION ALL
            SELECT 'https://site-' || CAST(k AS VARCHAR) || '.test/contact'
            FROM (SELECT DISTINCT n % 50 AS k FROM d)
          ), feat AS (
            SELECT DISTINCT
              regexp_extract(url, '^https://([^/]+)', 1) AS host,
              regexp_extract(url, '^https://([^/]+)', 1)
                || regexp_replace(regexp_replace(
                     regexp_extract(url,
                       '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1),
                     '=[^&#]*', '=V', 'g'), '[0-9]+', 'N', 'g') AS family,
              url
            FROM u
          ), fam AS (
            SELECT host, family, count(*) AS n_urls
            FROM feat GROUP BY 1, 2
          ), tot AS (
            SELECT host, count(*) AS host_urls FROM feat GROUP BY 1
          )
          SELECT host, family, n_urls, host_urls,
            CAST(CASE WHEN n_urls >= 5
                       AND n_urls * 1000000 >= 500000 * host_urls
                      THEN 1 ELSE 0 END AS INT) AS is_trap
          FROM fam JOIN tot USING (host)
        """,
        # q114: replay of the sitemap synthesis (string_agg in id order =
        # the Spark sort_array(struct) order) + the entry-split and
        # per-field extraction regexes of operators/sitemap.py.
        "q114_sitemap_parse": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
          ), e AS (
            SELECT n % 50 AS k, n,
              '<url><loc>' || CASE WHEN n % 2 = 0 THEN ' ' ELSE '' END
              || 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/doc/' || doc_id || '</loc>'
              || CASE WHEN n % 3 = 0 THEN '' ELSE
                   '<lastmod>2026-07-' || lpad(CAST(n % 28 + 1 AS VARCHAR), 2, '0')
                   || '</lastmod>' END
              || CASE WHEN n % 5 = 0 THEN '' ELSE
                   '<changefreq>'
                   || (['daily','weekly','monthly'])[CAST(n % 3 AS INT) + 1]
                   || '</changefreq>' END
              || CASE WHEN n % 4 = 0 THEN '' ELSE
                   '<priority>0.' || CAST(n % 9 + 1 AS VARCHAR)
                   || '</priority>' END
              || '</url>' AS entry
            FROM d
          ), um AS (
            SELECT 'site-' || CAST(k AS VARCHAR) || '-urlset' AS src,
              '<?xml version="1.0"?><urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              || string_agg(entry, '' ORDER BY n) || '</urlset>' AS xml
            FROM e GROUP BY k
          ), im AS (
            SELECT 'site-' || CAST(k AS VARCHAR) || '-index' AS src,
              '<sitemapindex><sitemap><loc>https://site-'
              || CAST(k AS VARCHAR)
              || '.test/sitemap-1.xml</loc><lastmod>2026-08-01</lastmod></sitemap>'
              || '<sitemap><loc>https://site-' || CAST(k AS VARCHAR)
              || '.test/sitemap-2.xml</loc></sitemap></sitemapindex>' AS xml
            FROM (SELECT DISTINCT n % 50 AS k FROM d)
          ), allx AS (
            SELECT * FROM um UNION ALL SELECT * FROM im
          ), ent AS (
            SELECT src, regexp_extract_all(xml,
              '(?is)<(?:url|sitemap)\\b[^>]*>.*?</(?:url|sitemap)>')
              AS blocks
            FROM allx
          ), ex AS (
            SELECT src, blocks, unnest(generate_series(1, len(blocks))) AS i
            FROM ent
          ), f AS (
            SELECT src, CAST(i - 1 AS INT) AS entry_pos,
              CASE WHEN lower(blocks[i]) LIKE '<sitemap%' THEN 'sitemap'
                   ELSE 'url' END AS kind,
              nullif(regexp_extract(blocks[i],
                '(?is)<loc(?:\\s[^>]*)?>\\s*(.*?)\\s*</loc>', 1), '') AS loc,
              nullif(regexp_extract(blocks[i],
                '(?is)<lastmod(?:\\s[^>]*)?>\\s*(.*?)\\s*</lastmod>', 1), '')
                AS lastmod,
              nullif(regexp_extract(blocks[i],
                '(?is)<changefreq(?:\\s[^>]*)?>\\s*(.*?)\\s*</changefreq>', 1), '')
                AS changefreq,
              nullif(regexp_extract(blocks[i],
                '(?is)<priority(?:\\s[^>]*)?>\\s*(.*?)\\s*</priority>', 1), '')
                AS prio
            FROM ex
          )
          SELECT src, entry_pos, kind, loc, lastmod, changefreq,
            CAST(round(CAST(prio AS DOUBLE) * 1000000) AS INT)
              AS priority_ppm
          FROM f WHERE loc IS NOT NULL
        """,
        # q113: GROUND TRUTH — the known outlink set (5 nav/footer URLs +
        # the self doc link + 2 injected cross-site links per page) is
        # synthesized directly from documents, then the frontier rules
        # (indegree, unseen, robots, per-host budget) replayed on it.
        "q113_crawl_frontier": """
          WITH d AS (
            SELECT doc_id, CAST(doc_id AS BIGINT) AS n FROM documents
          ), links AS (
            SELECT n AS src, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/home' AS url FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/about' FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/doc/' || doc_id FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/terms' FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/privacy' FROM d
            UNION ALL SELECT n, 'https://site-' || CAST(n % 50 AS VARCHAR)
              || '.test/contact' FROM d
            UNION ALL SELECT n, 'https://site-'
              || CAST((7 * n + 1) % 50 AS VARCHAR)
              || '.test/doc/' || doc_id FROM d
            UNION ALL SELECT n, 'https://site-'
              || CAST((13 * n + 2) % 50 AS VARCHAR) || '.test' FROM d
          ), agg AS (
            SELECT url, count(DISTINCT src) AS indegree
            FROM links GROUP BY 1
          ), unseen AS (
            SELECT a.* FROM agg a
            WHERE NOT EXISTS (
              SELECT 1 FROM d
              WHERE 'https://site-' || CAST(n % 50 AS VARCHAR)
                || '.test/doc/' || doc_id = a.url)
          ), feat AS (
            SELECT url, indegree,
              regexp_extract(url, '^https://([^/]+)', 1) AS host,
              coalesce(nullif(
                regexp_extract(url, '^https://[^/]+(/.*)$', 1), ''), '/')
                AS path,
              CAST(regexp_extract(url, 'site-([0-9]+)', 1) AS BIGINT) AS k
            FROM unseen
          ), allowed AS (
            SELECT host, url, indegree FROM feat
            WHERE NOT ((k % 2 = 0 AND path LIKE '/about%')
                    OR (k % 3 = 0 AND path LIKE '/doc/%'))
          ), ranked AS (
            SELECT host, url, indegree,
              row_number() OVER (
                PARTITION BY host ORDER BY indegree DESC, url) AS rn
            FROM allowed
          )
          SELECT host, url, indegree FROM ranked WHERE rn <= 8
        """,
        # q112: replay of the full template-removal chain — the q104 block
        # screen, digest page-frequency per domain, the integer-ppm
        # threshold, and the ordered per-doc reassembly
        # (operators/templates.py).
        "q112_template_removal": _HTML_MET_CTE + """
          , cb AS (
            SELECT doc_id,
              'site-' || CAST(CAST(doc_id AS BIGINT) % 50 AS VARCHAR)
                || '.test' AS domain,
              block_pos, block_text
            FROM met
            WHERE length(block_text) >= 25
              AND 3 * link_chars <= length(block_text)
          ), freq AS (
            SELECT domain, md5(block_text) AS digest,
                   count(DISTINCT doc_id) AS n_pages
            FROM cb GROUP BY 1, 2
          ), pg AS (
            SELECT domain, count(DISTINCT doc_id) AS n_domain_pages
            FROM cb GROUP BY 1
          ), tmpl AS (
            SELECT f.domain, f.digest
            FROM freq f JOIN pg USING (domain)
            WHERE n_pages >= 2
              AND n_pages * 1000000 >= 600000 * n_domain_pages
          ), flg AS (
            SELECT cb.doc_id, cb.domain, cb.block_pos, cb.block_text,
              CASE WHEN t.digest IS NULL THEN 0 ELSE 1 END AS is_template
            FROM cb LEFT JOIN tmpl t
              ON cb.domain = t.domain AND md5(cb.block_text) = t.digest
          )
          SELECT doc_id, domain,
            count(*) AS n_content_blocks,
            CAST(sum(is_template) AS INT) AS n_template_blocks,
            coalesce(array_to_string(
              list(block_text ORDER BY block_pos)
                FILTER (WHERE is_template = 0), chr(10)), '') AS clean_text
          FROM flg GROUP BY doc_id, domain
        """,
        # q111: GROUND TRUTH — the expected crawl verdict for every URL is
        # derived directly from the robots-synthesis rules (wildcard
        # /private block beaten by the longer /private/ok allow; /tmp
        # blocked on every 3rd domain unless the every-7th-domain
        # equal-length Allow/Disallow tie rescues it — allow wins ties;
        # the badbot catch-all never applies). Green means
        # parse_robots + apply_robots recover the known policy exactly.
        "q111_robots_policy": """
          WITH u AS (
            SELECT CAST(doc_id AS BIGINT) % 50 AS k,
                   CAST(doc_id AS BIGINT) % 4 AS m,
                   CASE CAST(doc_id AS BIGINT) % 4
                     WHEN 0 THEN '/doc/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                     WHEN 1 THEN '/private/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                     WHEN 2 THEN '/private/ok/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                     ELSE '/tmp/' || CAST(CAST(doc_id AS BIGINT) AS VARCHAR)
                   END AS path
            FROM documents
          )
          SELECT
            'https://site-' || CAST(k AS VARCHAR) || '.test' || path AS url,
            'site-' || CAST(k AS VARCHAR) || '.test' AS domain,
            path,
            CASE WHEN m = 1 THEN 0
                 WHEN m = 3 AND k % 7 <> 0 AND k % 3 = 0 THEN 0
                 ELSE 1 END AS allowed
          FROM u
        """,
        "q33_dedup_pipeline": q33_sql,
        "q76_incremental_dedup": q76_sql,
        "q40_dedup_clusters": q40_sql,
        "q64_dedup_keep_best": q64_sql,
        # q65: exact all-pairs containment — both directions from one
        # inverted-index intersection; threshold on the unrounded ratios.
        "q65_containment_pairs": shingle_cte + """
          , pairs AS (
            SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
            GROUP BY 1,2)
          SELECT id_a, id_b,
                 round(inter * 1.0 / sa.n_sh, 6) AS containment_a,
                 round(inter * 1.0 / sb.n_sh, 6) AS containment_b
          FROM pairs JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
          WHERE greatest(inter * 1.0 / sa.n_sh, inter * 1.0 / sb.n_sh) >= 0.5
        """,
        # q34: int8 scalar quantization (floor(x/scale + 0.5) half-up — the
        # one rounding rule bit-identical across engines), integer-dot
        # candidate cosine, exact float rerank of top 30
        "q34_quantized_ann": f"""
          WITH src AS (
            SELECT vec_id, embedding,
                   greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127.0,
                            1e-30) AS scale
            FROM embeddings),
          qv AS (
            SELECT vec_id, embedding,
                   [CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT) for x in embedding] AS qvec
            FROM src),
          qq AS (
            SELECT vec_id AS q_id, embedding AS q_vec, qvec AS q_qvec
            FROM qv WHERE vec_id < 10),
          cand AS (
            SELECT e.vec_id AS neighbor_id, q.q_id, q.q_vec, e.embedding AS vec,
                   round(
                     list_sum([e.qvec[i]*q.q_qvec[i] for i in generate_series(1, len(e.qvec))])
                     / (sqrt(list_sum([e.qvec[i]*e.qvec[i] for i in generate_series(1, len(e.qvec))]))
                        * sqrt(list_sum([q.q_qvec[i]*q.q_qvec[i] for i in generate_series(1, len(q.q_qvec))]))),
                     6) AS qscore
            FROM qv e, qq q WHERE e.vec_id <> q.q_id),
          topm AS (
            SELECT * FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, neighbor_id ASC) AS crank
              FROM cand)
            WHERE crank <= 30),
          scored AS (
            SELECT q_id, neighbor_id, round({_cos_sql('vec', 'q_vec')}, 6) AS score
            FROM topm)
          SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          WHERE rank <= 10
        """,
        # q36: salting changes the PARTITIONING of the join work, never
        # the answer — the oracle is the plain join
        "q36_salted_join": """
          SELECT o_orderpriority, count(*) AS n_lines,
                 CAST(round(sum(CAST(l_quantity AS DECIMAL(30,10))),2) AS DOUBLE) AS total_qty
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY 1 ORDER BY 1
        """,
        # q37/q38: multimodal path. The fake decoder is sha256-derived, so
        # the whole mapInPandas feature pipeline (binary payloads, Arrow
        # batching, float32 feature storage) is reproducible in SQL;
        # frame sampling is an explode of per-asset timestamp sequences.
        "q37_media_features": """
          WITH media AS (
            SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
                   CASE WHEN n_chars % 3 = 0 THEN 'video'
                        WHEN n_chars % 3 = 1 THEN 'image'
                        ELSE 'audio' END AS media_type,
                   sha256(text) AS sha
            FROM documents)
          SELECT asset_id, media_type, 1 AS feature_version,
                 round(CAST(CAST(CAST(concat('0x', substring(sha,1,8)) AS BIGINT)
                       / 4294967296.0 AS REAL) AS DOUBLE), 6) AS f0,
                 round(CAST(CAST(CAST(concat('0x', substring(sha,57,8)) AS BIGINT)
                       / 4294967296.0 AS REAL) AS DOUBLE), 6) AS f7
          FROM media
        """,
        "q38_frame_sample": """
          WITH media AS (
            SELECT 'asset-' || CAST(doc_id AS VARCHAR) AS asset_id,
                   CAST(doc_id AS VARCHAR) AS doc_id,
                   CASE WHEN n_chars % 3 = 0 THEN 'video'
                        WHEN n_chars % 3 = 1 THEN 'image'
                        ELSE 'audio' END AS media_type,
                   n_chars * 10 AS duration_ms
            FROM documents)
          SELECT asset_id, doc_id, CAST(u.i * 1000 AS INT) AS frame_ts_ms
          FROM media,
               unnest(generate_series(0,
                 greatest(CAST(floor(duration_ms / 1000.0) AS INT), 1) - 1)) AS u(i)
          WHERE media_type = 'video'
        """,
        # q35: bucketing changes the PLAN (exchange-free join), never the
        # answer — the oracle is the plain join
        "q35_bucketed_join": """
          SELECT c_mktsegment, count(*) AS n_orders,
                 CAST(round(sum(CAST(o_totalprice AS DECIMAL(30,10))),2) AS DOUBLE) AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1 ORDER BY 1
        """,
        "q26_model_registry": """
          WITH stats AS (
            SELECT round(avg(n_chars % 101) / 100.0, 6) AS acc,
                   CAST(count(*) AS INT) AS n
            FROM documents),
          reg(document_format, model_id, seq, acc, n) AS (VALUES
            ('abc','model-abc-0001',0, 0.95, 0),
            ('nouryon','model-nouryon-0001',0, 0.95, 0),
            ('oscorp','model-oscorp-0001',0, 0.95, 0),
            ('abc','model-abc-0002',1, 0.0, 0),
            ('abc','model-abc-0003',2, NULL, NULL),
            ('oscorp','model-oscorp-0002',1, 0.0, 0)),
          v AS (
            SELECT r.document_format, r.model_id,
                   CAST(row_number() OVER (PARTITION BY r.document_format ORDER BY r.seq) AS INT) AS model_version,
                   CAST(round(coalesce(r.acc, s.acc), 6) AS DOUBLE) AS average_model_accuracy,
                   CAST(coalesce(r.n, s.n) AS INT) AS n_training_docs
            FROM reg r CROSS JOIN stats s)
          SELECT document_format, model_id, model_version,
                 model_version = max(model_version) OVER (PARTITION BY document_format) AS is_latest,
                 average_model_accuracy, n_training_docs
          FROM v
        """,
        "q27_score_summary": f"""
          WITH q08 AS ({q08_sql})
          SELECT o.o_orderpriority AS team,
                 CAST(sum(score) AS BIGINT) AS total_score,
                 count(*) AS n_documents
          FROM q08 JOIN orders o ON q08.o_orderkey = o.o_orderkey
          GROUP BY 1
        """,
        "q28_asset_counts": """
          WITH d AS (
            SELECT source AS container, CAST(doc_id AS VARCHAR) AS doc_id, n_chars
            FROM documents),
          assets AS (
            SELECT container, doc_id || '.pdf' AS name FROM d
            UNION ALL
            SELECT container, doc_id || '.pdf.labels.json' AS name
            FROM d WHERE n_chars % 2 = 0
            UNION ALL
            SELECT DISTINCT container, 'project.fott' AS name
            FROM d WHERE container = 'web'),
          per AS (
            SELECT container,
                   CAST(sum(CASE WHEN lower(name) LIKE '%.pdf' THEN 1 ELSE 0 END) AS BIGINT) AS n_pdf,
                   CAST(sum(CASE WHEN lower(name) LIKE '%.pdf.labels.json' THEN 1 ELSE 0 END) AS BIGINT) AS n_labels,
                   CAST(sum(CASE WHEN lower(name) LIKE '%.fott' THEN 1 ELSE 0 END) AS BIGINT) AS n_fott
            FROM assets GROUP BY 1)
          SELECT container, n_pdf, n_labels, n_fott,
                 10 * least(n_pdf, 10) AS pdf_points,
                 25 * least(n_labels, 10) AS label_points,
                 500 * n_fott AS fott_points,
                 10 * least(n_pdf, 10) + 25 * least(n_labels, 10) + 500 * n_fott AS total_points
          FROM per
        """,
        "q22_lsh_ann": q22_sql,
        "q30_multiband_cosine": (lambda plane_sets: f"""
          WITH sig AS (
            SELECT vec_id, embedding,
                   {", ".join(f"{_bucket_sql(ps)} AS bucket{b}" for b, ps in enumerate(plane_sets))}
            FROM embeddings),
          bands AS (
            {" UNION ALL ".join(f"SELECT vec_id, embedding, {b} AS band, bucket{b} AS bucket FROM sig" for b in range(len(plane_sets)))}
          ),
          cand AS (
            SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
            FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
          va AS (SELECT vec_id, embedding FROM embeddings)
          SELECT id_a, id_b, cosine FROM (
            SELECT c.id_a, c.id_b,
                   round({_cos_sql('x.embedding', 'y.embedding')}, 6) AS cosine
            FROM cand c JOIN va x ON x.vec_id = c.id_a JOIN va y ON y.vec_id = c.id_b)
          WHERE cosine >= 0.2
        """)(_q30_planes()),
        "q31_simhash_pairs": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
            FROM documents),
          h AS (SELECT id, CAST(concat('0x', substring(md5(tok),1,14)) AS BIGINT) AS h FROM tok),
          bits AS (
            SELECT id, i,
                   sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM h, unnest([x for x in generate_series(0,31)]) AS u(i)
            GROUP BY 1,2),
          sig AS (
            SELECT id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY 1),
          banded AS (
            SELECT id, simhash, u.band, (simhash >> (u.band * 8)) & 255 AS bucket
            FROM sig, unnest([0,1,2,3]) AS u(band))
          SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                 CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
          FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        """,
        "q29_subword_stats": f"""
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 CAST(CASE WHEN len(trim(text))=0 THEN 0 ELSE len({toks}) END AS INT) AS n_ws_tokens,
                 CAST(len(regexp_extract_all(text, '{subword_re_sql}')) AS INT) AS n_subwords
          FROM documents
        """,
        "q23_cosine_neardup": f"""
          SELECT id_a, id_b, cosine FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
          WHERE cosine >= 0.3
        """,
        "q24_lsh_cosine_pairs": f"""
          WITH sig AS (
            SELECT vec_id, embedding, {_bucket_sql()} AS bucket FROM embeddings)
          SELECT id_a, id_b, cosine FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_cos_sql('a.embedding', 'b.embedding')}, 6) AS cosine
            FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
          WHERE cosine >= 0.2
        """,
        "q39_ivf_quantized_ann": f"""
          WITH cent AS (
            SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings ORDER BY vec_id LIMIT 16),
          ac AS (
            SELECT e.vec_id AS neighbor_id, c.c_id,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round({_cos_sql('e.embedding', 'c.c_vec')}, 6) DESC, c.c_id ASC
                   ) AS c_rank
            FROM embeddings e, cent c),
          assigned AS (SELECT neighbor_id, c_id AS cell FROM ac WHERE c_rank = 1),
          src AS (
            SELECT vec_id, embedding,
                   greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127.0,
                            1e-30) AS scale
            FROM embeddings),
          qv AS (
            SELECT vec_id,
                   [CAST(floor(CAST(x AS DOUBLE)/scale + 0.5) AS BIGINT) for x in embedding] AS qvec
            FROM src),
          aq AS (
            SELECT a.neighbor_id, a.cell, v.qvec
            FROM assigned a JOIN qv v ON v.vec_id = a.neighbor_id),
          qc AS (
            SELECT q.vec_id AS q_id, c.c_id AS cell,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_cos_sql('q.embedding', 'c.c_vec')}, 6) DESC, c.c_id ASC
                   ) AS c_rank
            FROM embeddings q, cent c WHERE q.vec_id < 10),
          probes AS (
            SELECT p.q_id, p.cell, v.qvec AS q_qvec
            FROM (SELECT q_id, cell FROM qc WHERE c_rank <= 4) p
            JOIN qv v ON v.vec_id = p.q_id),
          cand AS (
            SELECT a.neighbor_id, p.q_id,
                   round(
                     list_sum([a.qvec[i]*p.q_qvec[i] for i in generate_series(1, len(a.qvec))])
                     / (sqrt(list_sum([a.qvec[i]*a.qvec[i] for i in generate_series(1, len(a.qvec))]))
                        * sqrt(list_sum([p.q_qvec[i]*p.q_qvec[i] for i in generate_series(1, len(p.q_qvec))]))),
                     6) AS qscore
            FROM aq a JOIN probes p ON a.cell = p.cell
            WHERE a.neighbor_id <> p.q_id),
          topm AS (
            SELECT q_id, neighbor_id FROM (
              SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY qscore DESC, neighbor_id ASC) AS crank
              FROM cand)
            WHERE crank <= 30),
          scored AS (
            SELECT t.q_id, t.neighbor_id,
                   round({_cos_sql('e.embedding', 'q.embedding')}, 6) AS score
            FROM topm t
            JOIN embeddings e ON e.vec_id = t.neighbor_id
            JOIN embeddings q ON q.vec_id = t.q_id)
          SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          WHERE rank <= 10
        """,
        "q25_ivf_topk": f"""
          WITH cent AS (
            SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings ORDER BY vec_id LIMIT 16),
          ac AS (
            SELECT e.vec_id AS neighbor_id, e.embedding AS vec, c.c_id,
                   row_number() OVER (
                     PARTITION BY e.vec_id
                     ORDER BY round({_cos_sql('e.embedding', 'c.c_vec')}, 6) DESC, c.c_id ASC
                   ) AS c_rank
            FROM embeddings e, cent c),
          assigned AS (SELECT neighbor_id, vec, c_id AS cell FROM ac WHERE c_rank = 1),
          qc AS (
            SELECT q.vec_id AS q_id, q.embedding AS q_vec, c.c_id AS cell,
                   row_number() OVER (
                     PARTITION BY q.vec_id
                     ORDER BY round({_cos_sql('q.embedding', 'c.c_vec')}, 6) DESC, c.c_id ASC
                   ) AS c_rank
            FROM embeddings q, cent c WHERE q.vec_id < 10),
          scored AS (
            SELECT p.q_id, a.neighbor_id,
                   round({_cos_sql('a.vec', 'p.q_vec')}, 6) AS score
            FROM assigned a JOIN (SELECT * FROM qc WHERE c_rank <= 4) p ON a.cell = p.cell
            WHERE a.neighbor_id <> p.q_id)
          SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          WHERE rank <= 10
        """,
        # q41: the packing algorithm replayed exactly — per md5-shard,
        # ascending doc_id, greedy next-fit at budget 512 — as a
        # recursive CTE stepping row_number-by-row_number within shards.
        "q41_sequence_packing": r"""
          WITH RECURSIVE docs AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
                   CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INT) AS shard
            FROM documents
          ), ord AS (
            SELECT *, row_number() OVER (PARTITION BY shard ORDER BY id) AS rn
            FROM docs
          ), pack AS (
            SELECT shard, rn, id, n_tokens,
                   0 AS seq_id, 0 AS seq_pos, n_tokens AS run
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.rn, o.id, o.n_tokens,
                   CASE WHEN p.run + o.n_tokens > 512 THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.run + o.n_tokens > 512 THEN 0 ELSE p.seq_pos + 1 END,
                   CASE WHEN p.run + o.n_tokens > 512 THEN o.n_tokens ELSE p.run + o.n_tokens END
            FROM ord o JOIN pack p ON o.shard = p.shard AND o.rn = p.rn + 1
          )
          SELECT id AS doc_id, shard, CAST(seq_id AS INT) AS seq_id,
                 CAST(seq_pos AS INT) AS seq_pos,
                 CAST(n_tokens AS BIGINT) AS n_tokens
          FROM pack
        """,
        # q42: same md5-uniform construction as the Spark side (first 15
        # hex chars = 60 bits, scaled by 2^60), CASE rate per language,
        # then the per-source cap as a row_number window.
        "q42_stratified_sample": """
          WITH u AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, source,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 's42'), 1, 15)) AS BIGINT)
                     / 1152921504606846976.0 AS u
            FROM documents
          ), s AS (
            SELECT doc_id, lang, source FROM u
            WHERE u < CASE lang WHEN 'en' THEN 0.8 WHEN 'de' THEN 0.5
                                WHEN 'fr' THEN 0.25 ELSE 0.1 END
          ), r AS (
            SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
            FROM s
          )
          SELECT doc_id, lang, source FROM r WHERE rn <= 20
        """,
        # q43: DuckDB's native ASOF JOIN (inclusive >=, latest right row
        # at-or-before each left row) — the independent semantics check
        # for the union-and-carry implementation.
        "q43_asof_join": """
          WITH p AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
          ), v AS (
            SELECT user_id, ts, max(event_id) AS view_event_id
            FROM events WHERE event_type = 'view' GROUP BY 1, 2
          )
          SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
                 v.ts AS view_ts, v.view_event_id
          FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
        """,
        # q44: the bucketization is an implementation detail — the oracle
        # is the plain inequality join the operator must be equivalent to.
        "q44_interval_join": """
          SELECT c.event_id AS click_id, c.user_id, c.ts AS click_ts,
                 e.event_id AS error_id
          FROM events c JOIN events e
            ON c.user_id = e.user_id
           AND c.event_type = 'click' AND e.event_type = 'error'
           AND c.ts >= e.ts AND c.ts <= e.ts + INTERVAL 2 HOUR
        """,
        # q45: identical n-gram construction (adjacent token windows),
        # per-(doc, gram) counts, per-doc top/dup occupancy; docs too
        # short for n-grams come back as 0.0 via the left join.
        "q45_repetition": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   string_split_regex(trim(text), '\s+') AS t
            FROM documents
          ),
          g2 AS (
            SELECT doc_id, unnest([t[i] || ' ' || t[i+1]
                                   for i in generate_series(1, len(t)-1)]) AS g
            FROM tok WHERE len(t) >= 2
          ),
          c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
          s2 AS (
            SELECT doc_id,
                   round(max(c) * 1.0 / sum(c), 6) AS top2gram_ratio,
                   round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS dup2gram_frac
            FROM c2 GROUP BY 1
          ),
          g3 AS (
            SELECT doc_id, unnest([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                   for i in generate_series(1, len(t)-2)]) AS g
            FROM tok WHERE len(t) >= 3
          ),
          c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
          s3 AS (
            SELECT doc_id,
                   round(max(c) * 1.0 / sum(c), 6) AS top3gram_ratio,
                   round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6) AS dup3gram_frac
            FROM c3 GROUP BY 1
          )
          SELECT d.doc_id,
                 coalesce(s2.top2gram_ratio, 0.0) AS top2gram_ratio,
                 coalesce(s2.dup2gram_frac, 0.0) AS dup2gram_frac,
                 coalesce(s3.top3gram_ratio, 0.0) AS top3gram_ratio,
                 coalesce(s3.dup3gram_frac, 0.0) AS dup3gram_frac
          FROM (SELECT CAST(doc_id AS VARCHAR) AS doc_id FROM documents) d
          LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
        """,
        # q46: the identical Efraimidis-Spirakis draw — same md5 uniform,
        # same clamp, same 9-dp rounding, same (e, id) tie-break.
        "q46_weighted_sample": """
          WITH x AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                   CAST(n_chars AS DOUBLE) AS w,
                   greatest(
                     CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 's46'), 1, 15)) AS BIGINT)
                       / 1152921504606846976.0,
                     1e-18) AS u
            FROM documents WHERE n_chars > 0
          ), e AS (
            SELECT doc_id, lang, w, round(-ln(u) / w, 9) AS e FROM x
          ), r AS (
            SELECT *, row_number() OVER (PARTITION BY lang ORDER BY e, doc_id) AS rn
            FROM e
          )
          SELECT doc_id, lang, w FROM r WHERE rn <= 10
        """,
        # q47: identical normalization (lower, strip non-alnum, collapse
        # spaces), distinct 5-grams per doc; the md5-digest join on the
        # Spark side is equality-equivalent to this raw-string join.
        "q47_decontaminate": """
          WITH norm AS (
            SELECT doc_id AS did, CAST(doc_id AS VARCHAR) AS id,
                   trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
            FROM documents
          ), tok AS (SELECT did, id, string_split(t, ' ') AS w FROM norm),
          grams AS (
            SELECT did, id, unnest(list_distinct([array_to_string(w[i:i+4], ' ')
                     for i in generate_series(1, len(w)-4)])) AS g
            FROM tok WHERE len(w) >= 5
          ),
          bench AS (SELECT DISTINCT g AS bg FROM grams WHERE did % 20 = 0),
          corp AS (SELECT id, g FROM grams WHERE did % 20 <> 0),
          agg AS (
            SELECT id, count(*) AS n_sh, count(b.bg) AS n_col
            FROM corp LEFT JOIN bench b ON corp.g = b.bg GROUP BY id
          )
          SELECT n.id AS doc_id,
                 CAST(coalesce(a.n_sh, 0) AS BIGINT) AS n_shingles,
                 CAST(coalesce(a.n_col, 0) AS BIGINT) AS n_collisions,
                 round(CASE WHEN coalesce(a.n_sh, 0) > 0
                            THEN coalesce(a.n_col, 0) * 1.0 / a.n_sh ELSE 0.0 END, 6) AS contam_frac,
                 coalesce(a.n_col, 0) >= 1 AS is_contaminated
          FROM (SELECT id FROM norm WHERE did % 20 <> 0) n LEFT JOIN agg a ON n.id = a.id
        """,
        # q48: same lowest-id centroid stand-in + rounded-argmax cell
        # assignment as q25, within-cell threshold pairs, component
        # minimum via recursive transitive closure (as q40).
        "q48_semantic_dedup": f"""
          WITH RECURSIVE cent AS (
            SELECT vec_id AS c_id, embedding AS c_vec FROM embeddings ORDER BY vec_id LIMIT 8),
          ac AS (
            SELECT e.vec_id AS id, e.embedding AS vec, c.c_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round({_cos_sql('e.embedding', 'c.c_vec')}, 6) DESC, c.c_id ASC) AS c_rank
            FROM embeddings e, cent c),
          assigned AS (SELECT id, vec, c_id AS cell FROM ac WHERE c_rank = 1),
          pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.id < b.id
            WHERE round({_cos_sql('a.vec', 'b.vec')}, 6) >= 0.35),
          edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
          nodes AS (SELECT vec_id AS id FROM embeddings),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT e.v, reach.r FROM edges e JOIN reach ON e.u = reach.id),
          comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
          SELECT id AS vec_id, cluster_id,
                 CAST(count(*) OVER (PARTITION BY cluster_id) AS INT) AS cluster_size,
                 id <> cluster_id AS is_duplicate
          FROM comp
        """,
        # q49: same bigram construction as q45's g2 CTE; per-(doc, gram)
        # pre-aggregate makes n_docs a plain count; ties at the k-th
        # boundary broken deterministically by gram.
        "q49_top_ngrams": r"""
          WITH tok AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents),
          g AS (
            SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                                   for i in generate_series(1, len(w)-1)]) AS gram
            FROM tok WHERE len(w) >= 2),
          pd AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
          agg AS (
            SELECT gram, CAST(sum(c) AS BIGINT) AS n_occurrences,
                   CAST(count(*) AS BIGINT) AS n_docs
            FROM pd GROUP BY gram)
          SELECT gram, n_occurrences, n_docs
          FROM agg ORDER BY n_occurrences DESC, gram ASC LIMIT 50
        """,
        # q51: identical KMV math — same md5-uniform construction
        # ((h+1)/2^60, salt 's51'), distinct hashes per group, k=32
        # smallest, estimate (k-1)/h_k, exact below k.
        "q51_kmv_distinct": """
          WITH h AS (
            SELECT DISTINCT lang,
                   (CAST(concat('0x', substring(md5(text || 's51'), 1, 15)) AS BIGINT) + 1.0)
                     / 1152921504606846976.0 AS u
            FROM documents
          ), r AS (
            SELECT lang, u, row_number() OVER (PARTITION BY lang ORDER BY u) AS rn
            FROM h
          ), agg AS (
            SELECT lang, count(*) AS cnt,
                   max(u) FILTER (WHERE rn <= 32) AS uk
            FROM r GROUP BY lang
          )
          SELECT lang,
                 CAST(least(32, cnt) AS INT) AS n_seen_min,
                 round(CASE WHEN cnt < 32 THEN cnt * 1.0 ELSE 31.0 / uk END, 4)
                   AS est_distinct
          FROM agg
        """,
        # q52: Okapi BM25, same normalization as q47 (lower, strip
        # non-alnum, collapse spaces), k1=1.2 b=0.75, deterministic
        # tie-break by doc_id.
        "q52_bm25": """
          WITH norm AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
            FROM documents
          ), base AS (
            SELECT id, CASE WHEN length(t) > 0 THEN len(string_split(t, ' ')) ELSE 0 END AS dl,
                   string_split(t, ' ') AS w
            FROM norm
          ), stats AS (
            SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl FROM base
          ), matched AS (
            SELECT id, dl, unnest(w) AS term FROM base
          ), tf AS (
            SELECT id, dl, term, count(*) AS tf FROM matched
            WHERE term IN ('spark', 'hash', 'join', 'window')
            GROUP BY 1, 2, 3
          ), dft AS (
            SELECT term, count(*) * 1.0 AS df FROM tf GROUP BY term
          ), scored AS (
            SELECT tf.id,
                   round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * tf.tf * 2.2
                         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 6) AS score,
                   count(*) AS n_matched_terms
            FROM tf JOIN dft d ON tf.term = d.term CROSS JOIN stats s
            GROUP BY tf.id
          )
          SELECT id AS doc_id, score, n_matched_terms
          FROM scored ORDER BY score DESC, doc_id ASC LIMIT 25
        """,
        # q53: same windows — starts every 6 tokens, 8-token slices
        # (DuckDB list slicing is 1-based inclusive, hence i..i+7).
        "q53_doc_chunks": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
          ), starts AS (
            SELECT doc_id, w, unnest(generate_series(1, len(w), 6)) AS i
            FROM tok
          )
          SELECT doc_id,
                 CAST((i - 1) / 6 AS BIGINT) AS chunk_id,
                 CAST(least(8, len(w) - (i - 1)) AS BIGINT) AS n_tokens,
                 array_to_string(w[i : i + 7], ' ') AS chunk_text
          FROM starts
        """,
        # q54: same planted-PII construction; RE2 (DuckDB) and Java
        # (Spark) agree on these ASCII-class + \b patterns; counts via
        # len(regexp_extract_all) == regexp_count.
        "q54_pii": r"""
          WITH planted AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   text || CASE
                     WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                     WHEN doc_id % 3 = 1 THEN ' call +1 555-123-4567 or ping 10.0.0.1'
                     ELSE ' pay 4111 1111 1111 1111 today' END AS t
            FROM documents
          ), c AS (
            SELECT id,
                   CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   CAST(len(regexp_extract_all(t, '\b[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}\b')) AS BIGINT) AS n_card,
                   CAST(len(regexp_extract_all(t, '\+?[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{3,4}[- ]?[0-9]{0,4}\b')) AS BIGINT) AS n_phone,
                   CAST(len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ip
            FROM planted
          )
          SELECT id AS doc_id, n_email, n_card, n_phone, n_ip,
                 n_email + n_card + n_phone + n_ip AS n_pii
          FROM c
        """,
        # q55: same derived URLs; normalization = strip fragment, lower
        # scheme/host, drop :80/:443, strip trailing slash; host = lower
        # authority minus port; depth = non-empty path segments.
        "q55_domain_counts": r"""
          WITH u AS (
            SELECT doc_id,
                   'https://' || source || CAST(doc_id % 40 AS VARCHAR) || '.example.com'
                   || CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END
                   || CASE WHEN doc_id % 2 = 0 THEN '/docs/p' || CAST(doc_id AS VARCHAR) || '/' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
            FROM documents
          ), parts AS (
            SELECT doc_id,
                   lower(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1), ':[0-9]+$', '')) AS domain,
                   lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) || '://'
                     || regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)), ':(80|443)$', '')
                     || regexp_replace(regexp_extract(regexp_replace(url, '#.*$', ''), '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+(.*)$', 1), '/$', '') AS norm_url,
                   regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1) AS path
            FROM u
          ), depth AS (
            SELECT doc_id, domain, norm_url,
                   CASE WHEN regexp_replace(regexp_replace(path, '^/+', ''), '/+$', '') = ''
                        THEN 0
                        ELSE len(string_split(regexp_replace(regexp_replace(path, '^/+', ''), '/+$', ''), '/'))
                   END AS d
            FROM parts
          )
          SELECT domain,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(count(DISTINCT norm_url) AS BIGINT) AS n_urls,
                 round(avg(d), 6) AS avg_path_depth
          FROM depth GROUP BY domain
        """,
        # q56: q53's disjoint-window construction at window=4, digest ->
        # distinct-doc counts, per-doc duplicated fraction; zero-chunk
        # docs keep a zero row via the left join back.
        "q56_dup_paragraphs": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS id, string_split_regex(trim(text), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
          ), starts AS (
            SELECT id, w, unnest(generate_series(1, len(w), 4)) AS i FROM tok
          ), ch AS (
            SELECT id, md5(array_to_string(w[i : i + 3], ' ')) AS digest FROM starts
          ), dc AS (
            SELECT digest, count(DISTINCT id) AS nd FROM ch GROUP BY digest
          ), per_doc AS (
            SELECT ch.id, count(*) AS n_chunks,
                   sum(CASE WHEN dc.nd > 1 THEN 1 ELSE 0 END) AS n_dup
            FROM ch JOIN dc USING (digest) GROUP BY ch.id
          )
          SELECT b.id AS doc_id,
                 CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
                 CAST(coalesce(p.n_dup, 0) AS BIGINT) AS n_dup_chunks,
                 round(CASE WHEN coalesce(p.n_chunks, 0) > 0
                            THEN coalesce(p.n_dup, 0) * 1.0 / p.n_chunks
                            ELSE 0.0 END, 6) AS dup_frac
          FROM (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents) b
          LEFT JOIN per_doc p ON b.id = p.id
        """,
        # q57: identical unigram model (Laplace alpha=1, ln probabilities)
        # and the same micro-int aggregation — round(logp*1e6) as BIGINT
        # summed exactly, so the mean is independent of summation order.
        "q57_lm_score": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0
          ), counts AS (
            SELECT token, count(*) AS c FROM tok GROUP BY token
          ), stats AS (
            SELECT sum(c) * 1.0 AS total, count(*) * 1.0 AS vocab FROM counts
          ), model AS (
            SELECT token,
                   CAST(round(ln((c + 1.0) / (total + 1.0 * (vocab + 1.0))) * 1e6) AS BIGINT) AS mlogp
            FROM counts CROSS JOIN stats
          ), scored AS (
            SELECT t.id, count(*) AS n_tokens,
                   round(sum(m.mlogp) / (count(*) * 1e6), 6) AS mean_logp,
                   sum(CASE WHEN m.mlogp IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM tok t LEFT JOIN model m ON t.token = m.token
            GROUP BY t.id
          )
          SELECT b.id AS doc_id,
                 CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                 coalesce(s.mean_logp, 0.0) AS mean_logp,
                 CAST(coalesce(s.n_oov, 0) AS BIGINT) AS n_oov
          FROM (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents) b
          LEFT JOIN scored s ON b.id = s.id
        """,
        # q58: same window + deterministic doc_id tie-break.
        "q58_top_per_key": """
          SELECT doc_id, lang, n_chars, CAST(rank AS INT) AS rank FROM (
            SELECT doc_id, lang, n_chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars DESC, doc_id ASC) AS rank
            FROM documents
          ) WHERE rank <= 3
        """,
        # q60: identical hashed-feature construction (same md5 60-bit
        # bucket hash, same unigram+bigram features, same Laplace model
        # and micro-int log-ratio accumulation) — the hash match proves
        # the whole DSIR pipeline end to end.
        "q60_dsir_weights": r"""
          WITH base AS (
            SELECT CAST(doc_id AS VARCHAR) AS id, (lang = 'en') AS is_t,
                   trim(text) AS t
            FROM documents
          ), tok AS (
            SELECT id, is_t, string_split_regex(t, '\s+') AS w
            FROM base WHERE length(t) > 0
          ), feats AS (
            SELECT id, is_t,
                   unnest(list_concat(
                     w, [w[i] || ' ' || w[i + 1] FOR i IN range(1, len(w))]
                   )) AS f
            FROM tok
          ), bucketed AS (
            SELECT id, is_t,
                   CAST(concat('0x', substring(md5(f || 'dsir'), 1, 15)) AS BIGINT)
                     % 1024 AS bucket
            FROM feats
          ), docbuck AS (
            SELECT id, bucket, count(*) AS c FROM bucketed GROUP BY id, bucket
          ), raw AS (
            SELECT bucket, sum(c) AS cb FROM docbuck GROUP BY bucket
          ), rawstats AS (
            SELECT sum(cb) * 1.0 AS total FROM raw
          ), tgt AS (
            SELECT bucket, count(*) AS cb FROM bucketed WHERE is_t GROUP BY bucket
          ), tstats AS (
            SELECT sum(cb) * 1.0 AS total FROM tgt
          ), ratio AS (
            SELECT bucket,
                   CAST(round((
                     ln((coalesce(g.cb, 0) + 1.0) / (tstats.total + 1.0 * 1024))
                     - ln((coalesce(r.cb, 0) + 1.0) / (rawstats.total + 1.0 * 1024))
                   ) * 1e6) AS BIGINT) AS mratio
            FROM raw r FULL JOIN tgt g USING (bucket)
            CROSS JOIN rawstats CROSS JOIN tstats
          ), scored AS (
            SELECT d.id, sum(d.c) AS n_feats,
                   round(sum(d.c * ratio.mratio) / 1e6, 6) AS log_weight
            FROM docbuck d JOIN ratio USING (bucket) GROUP BY d.id
          )
          SELECT b.id AS doc_id,
                 CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
                 coalesce(s.log_weight, 0.0) AS log_weight
          FROM (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents) b
          LEFT JOIN scored s ON b.id = s.id
        """,
        # q61: same sliding 4-token windows (1-based list_slice twin of
        # Spark's slice), same cross-doc distinct count, same
        # interval-union via lead() — coverage is exact, not hit-count.
        "q61_dup_spans": r"""
          WITH base AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   string_split_regex(trim(text), '\s+') AS w
            FROM documents WHERE length(trim(text)) > 0
          ), wins AS (
            SELECT id, w, unnest(range(1, len(w) - 2)) AS i
            FROM base WHERE len(w) >= 4
          ), digests AS (
            SELECT id, i - 1 AS pos,
                   md5(array_to_string(list_slice(w, i, i + 3), ' ')) AS digest
            FROM wins
          ), dupd AS (
            SELECT digest FROM (
              SELECT digest, count(DISTINCT id) AS nd FROM digests GROUP BY digest
            ) WHERE nd > 1
          ), hits AS (
            SELECT d.id, d.pos FROM digests d JOIN dupd USING (digest)
          ), covp AS (
            SELECT id, pos,
                   least(4, coalesce(
                     lead(pos) OVER (PARTITION BY id ORDER BY pos) - pos, 4
                   )) AS cv
            FROM hits
          ), cov AS (
            SELECT id, count(*) AS n_dup_windows, sum(cv) AS covered
            FROM covp GROUP BY id
          ), toks AS (
            SELECT id, len(w) AS n_tokens FROM base
          )
          SELECT b.id AS doc_id,
                 CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
                 CAST(greatest(0, coalesce(t.n_tokens, 0) - 3) AS BIGINT) AS n_windows,
                 CAST(coalesce(c.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
                 CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
                 round(CASE WHEN coalesce(t.n_tokens, 0) > 0
                            THEN coalesce(c.covered, 0) * 1.0 / t.n_tokens
                            ELSE 0.0 END, 6) AS dup_frac
          FROM (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents) b
          LEFT JOIN toks t USING (id) LEFT JOIN cov c USING (id)
        """,
        # q62: same per-domain token masses, same pow(p,0.3) micro-int
        # (x1e9) weight normalization, same budget arithmetic.
        "q62_domain_mixture": r"""
          WITH per AS (
            SELECT source AS domain, count(*) AS n_docs,
                   sum(CASE WHEN length(trim(text)) > 0
                            THEN len(string_split_regex(trim(text), '\s+'))
                            ELSE 0 END) AS n_tokens
            FROM documents GROUP BY source
          ), tot AS (
            SELECT sum(n_tokens) * 1.0 AS total FROM per
          ), w AS (
            SELECT domain, n_docs, n_tokens, total,
                   CAST(round(pow(n_tokens / total, 0.3) * 1e9) AS BIGINT) AS mw
            FROM per CROSS JOIN tot
          ), norm AS (
            SELECT sum(mw) AS msum FROM w
          )
          SELECT domain,
                 CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 round(n_tokens / total, 6) AS p_raw,
                 round(mw * 1.0 / msum, 6) AS p_mix,
                 CAST(round(1000000.0 * mw / msum) AS BIGINT) AS target_tokens,
                 round(CASE WHEN n_tokens > 0
                            THEN 1000000.0 * mw / msum / n_tokens
                            ELSE 0.0 END, 6) AS epochs
          FROM w CROSS JOIN norm
        """,
        # q63: same rule battery over exact long counts — every ratio is
        # long/long division, so the booleans are bit-identical.
        "q63_quality_filter": r"""
          WITH base AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   CASE WHEN length(trim(text)) > 0
                        THEN string_split_regex(trim(text), '\s+')
                        ELSE []::VARCHAR[] END AS w,
                   string_split_regex(text, '\n') AS ln,
                   lower(trim(text)) AS lt
            FROM documents
          ), sized AS (
            SELECT id,
                   len(w) AS n_words,
                   coalesce(list_sum([length(x) FOR x IN w]), 0) AS sum_wlen,
                   len(list_filter(w, x -> regexp_matches(x, '[#…]')
                                        OR contains(x, '...'))) AS n_symbol_words,
                   len(list_filter(w, x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha_words,
                   len(list_filter(ln, x -> regexp_matches(trim(x), '^[-*•]'))) AS n_bullet_lines,
                   len(list_filter(ln, x -> regexp_matches(trim(x), '(\.\.\.|…)$'))) AS n_ellipsis_lines,
                   len(ln) AS n_lines,
                   len(list_intersect(
                     list_distinct(string_split_regex(lt, '\s+')),
                     ['the','be','to','of','and','that','have','with']
                   )) AS n_stopwords
            FROM base
          )
          SELECT id AS doc_id,
                 CAST(n_words AS BIGINT) AS n_words,
                 round(CASE WHEN n_words > 0 THEN sum_wlen * 1.0 / n_words ELSE 0.0 END, 6) AS mean_wlen,
                 round(CASE WHEN n_words > 0 THEN n_symbol_words * 1.0 / n_words ELSE 0.0 END, 6) AS symbol_ratio,
                 round(CASE WHEN n_lines > 0 THEN n_bullet_lines * 1.0 / n_lines ELSE 0.0 END, 6) AS bullet_ratio,
                 round(CASE WHEN n_lines > 0 THEN n_ellipsis_lines * 1.0 / n_lines ELSE 0.0 END, 6) AS ellipsis_ratio,
                 round(CASE WHEN n_words > 0 THEN n_alpha_words * 1.0 / n_words ELSE 0.0 END, 6) AS alpha_ratio,
                 CAST(n_stopwords AS BIGINT) AS n_stopwords,
                 (n_words BETWEEN 5 AND 100000) AS r_word_count,
                 (n_words > 0 AND sum_wlen * 1.0 / n_words >= 3.0
                              AND sum_wlen * 1.0 / n_words <= 10.0) AS r_mean_wlen,
                 (CASE WHEN n_words > 0 THEN n_symbol_words * 1.0 / n_words ELSE 0.0 END <= 0.1) AS r_symbol,
                 (CASE WHEN n_lines > 0 THEN n_bullet_lines * 1.0 / n_lines ELSE 0.0 END <= 0.9) AS r_bullet,
                 (CASE WHEN n_lines > 0 THEN n_ellipsis_lines * 1.0 / n_lines ELSE 0.0 END <= 0.3) AS r_ellipsis,
                 (n_words > 0 AND n_alpha_words * 1.0 / n_words >= 0.8) AS r_alpha,
                 (n_stopwords >= 2) AS r_stopwords,
                 ((n_words BETWEEN 5 AND 100000)
                  AND (n_words > 0 AND sum_wlen * 1.0 / n_words >= 3.0
                                   AND sum_wlen * 1.0 / n_words <= 10.0)
                  AND (CASE WHEN n_words > 0 THEN n_symbol_words * 1.0 / n_words ELSE 0.0 END <= 0.1)
                  AND (CASE WHEN n_lines > 0 THEN n_bullet_lines * 1.0 / n_lines ELSE 0.0 END <= 0.9)
                  AND (CASE WHEN n_lines > 0 THEN n_ellipsis_lines * 1.0 / n_lines ELSE 0.0 END <= 0.3)
                  AND (n_words > 0 AND n_alpha_words * 1.0 / n_words >= 0.8)
                  AND (n_stopwords >= 2)) AS keep
          FROM sized
        """,
        # q59: identical micro-int accumulation (round(val*1e6) summed
        # as BIGINT) so the centroid is summation-order independent.
        "q59_label_centroids": """
          WITH pv AS (
            SELECT label, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings
          ), micro AS (
            SELECT label, i AS pos,
                   CAST(round(embedding[i] * 1e6) AS BIGINT) AS mv
            FROM pv
          ), per_pos AS (
            SELECT label, pos, sum(mv) AS s, count(*) AS n
            FROM micro GROUP BY label, pos
          )
          SELECT label,
                 CAST(min(n) AS BIGINT) AS n_vecs,
                 list(round(s / (n * 1e6), 9) ORDER BY pos) AS centroid
          FROM per_pos GROUP BY label
        """,
        # q66: the SAME integer recursion as operators/graph.pagerank —
        # ranks in 1e-12 units, contributions rank//outdeg, damping
        # (x*85)//100, dangling mass D//n. Long addition is order-free,
        # so 8 iterations replayed by the recursive CTE hash-match the
        # DataFrame loop exactly. (`//` floors, Spark `div` truncates —
        # identical on the non-negative ranks here.)
        "q66_pagerank": """
          WITH RECURSIVE
          edges AS (
            SELECT src, dst FROM (
              SELECT (doc_id % 211)::BIGINT AS src,
                     ((doc_id*31+7) % 211)::BIGINT AS dst FROM documents
              UNION ALL
              SELECT (doc_id % 211)::BIGINT,
                     ((doc_id*17+3) % 211)::BIGINT FROM documents)
            WHERE src % 23 <> 0 GROUP BY src, dst),
          nodes AS (SELECT DISTINCT node FROM
            (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
          outdeg AS (SELECT src AS node, count(*)::BIGINT AS deg
                     FROM edges GROUP BY 1),
          nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
          ranks(iter, node, r) AS (
            SELECT 0, node, (1000000000000 // nn.n)::BIGINT FROM nodes, nn
            UNION ALL
            SELECT iter + 1, node, r FROM (
              WITH prev AS (SELECT * FROM ranks),
              contrib AS (
                SELECT e.dst AS node, SUM(p.r // o.deg)::BIGINT AS c
                FROM prev p JOIN edges e ON e.src = p.node
                JOIN outdeg o ON o.node = p.node
                GROUP BY 1),
              dangling AS (
                SELECT COALESCE(SUM(p.r), 0)::BIGINT AS d
                FROM prev p LEFT JOIN outdeg o ON o.node = p.node
                WHERE o.node IS NULL)
              SELECT p.iter, p.node,
                ((1000000000000 - (1000000000000 * 85) // 100) // nn.n
                 + ((COALESCE(c.c, 0) + dg.d // nn.n) * 85) // 100)::BIGINT AS r
              FROM prev p LEFT JOIN contrib c ON c.node = p.node
              CROSS JOIN nn CROSS JOIN dangling dg
            ) WHERE iter + 1 <= 8)
          SELECT node, r AS rank_micro FROM ranks WHERE iter = 8
        """,
        # q67: the oracle is the NAIVE exact plan; the engine's
        # Misra-Gries candidate tier may admit different survivors into
        # the verify pass under different partitionings, but the exact
        # integer threshold (count*1e6 >= total*ppm) makes the ANSWER
        # partitioning-invariant — the hash match is the proof.
        "q67_heavy_hitters": r"""
          WITH tok AS (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
          tok2 AS (SELECT token FROM tok WHERE token <> ''),
          tot AS (SELECT count(*)::BIGINT AS n_total FROM tok2)
          SELECT token, count(*)::BIGINT AS n_occurrences,
                 (SELECT n_total FROM tot) AS n_total
          FROM tok2 GROUP BY token
          HAVING count(*) * 1000000 >= (SELECT n_total FROM tot) * 3000
        """,
        # q68: floor(epoch) == Spark's unix_timestamp truncation (epochs
        # positive); micro-int sums; gap-fill from the scalar-list
        # generate_series; LOCF via last_value IGNORE NULLS.
        "q68_time_rollup": """
          WITH base AS (
            SELECT event_type AS k,
                   ((CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600)::BIGINT
                     AS bucket_start,
                   CAST(round(value * 1000000) AS BIGINT) AS vm
            FROM events),
          agg AS (SELECT k, bucket_start, count(*)::BIGINT AS n_events,
                         SUM(vm)::BIGINT AS sm
                  FROM base GROUP BY 1, 2),
          span AS (SELECT min(bucket_start) AS lo, max(bucket_start) AS hi
                   FROM base),
          dims AS (
            SELECT k, unnest(generate_series(span.lo, span.hi, 21600))::BIGINT
                     AS bucket_start
            FROM (SELECT DISTINCT k FROM base), span),
          joined AS (
            SELECT d.k, d.bucket_start,
                   COALESCE(a.n_events, 0)::BIGINT AS n_events, a.sm
            FROM dims d LEFT JOIN agg a
              ON a.k = d.k AND a.bucket_start = d.bucket_start)
          SELECT k AS event_type, bucket_start, n_events,
                 CAST(round(sm / 1000000.0, 6) AS DOUBLE) AS value_sum,
                 CAST(round(last_value(sm IGNORE NULLS) OVER (
                   PARTITION BY k ORDER BY bucket_start
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   / 1000000.0, 6) AS DOUBLE) AS value_filled
          FROM joined
        """,
        # q69: the same five magic-number bit spreads as zorder.py
        # (masks 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555 in
        # decimal) — 64-bit integer ops are engine-identical.
        "q69_zorder_key": """
          WITH c AS (SELECT event_id, (user_id % 65536)::BIGINT AS zx,
                            (event_id % 65536)::BIGINT AS zy FROM events),
          sx AS (SELECT event_id, zx, zy,
            ((zx | (zx << 8)) & 16711935) AS x1,
            ((zy | (zy << 8)) & 16711935) AS y1 FROM c),
          s2 AS (SELECT event_id, zx, zy,
            ((x1 | (x1 << 4)) & 252645135) AS x2,
            ((y1 | (y1 << 4)) & 252645135) AS y2 FROM sx),
          s3 AS (SELECT event_id, zx, zy,
            ((x2 | (x2 << 2)) & 858993459) AS x3,
            ((y2 | (y2 << 2)) & 858993459) AS y3 FROM s2),
          s4 AS (SELECT event_id, zx, zy,
            ((x3 | (x3 << 1)) & 1431655765) AS x4,
            ((y3 | (y3 << 1)) & 1431655765) AS y4 FROM s3)
          SELECT event_id, zx, zy, (x4 | (y4 << 1))::BIGINT AS z_key FROM s4
        """,
        # q70: cents-cast BEFORE the quantile makes the interpolation at
        # dyadic fractions exact in doubles, so Spark percentile() and
        # DuckDB quantile_cont() agree bit-for-bit.
        "q70_grouped_quantiles": """
          WITH c AS (SELECT event_type,
                            CAST(round(value * 100) AS BIGINT) AS cents
                     FROM events)
          SELECT event_type,
            CAST(round(quantile_cont(cents, 0.25) / 100.0, 6) AS DOUBLE) AS p25,
            CAST(round(quantile_cont(cents, 0.5)  / 100.0, 6) AS DOUBLE) AS p50,
            CAST(round(quantile_cont(cents, 0.75) / 100.0, 6) AS DOUBLE) AS p75,
            CAST(round(quantile_cont(cents, 0.9)  / 100.0, 6) AS DOUBLE) AS p90
          FROM c GROUP BY event_type
        """,
        # q71: identical md5-bucket construction (the package-wide
        # md5_long twin) and the same cumulative integer boundaries.
        "q71_corpus_split": """
          WITH b AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)
                     || 'split'), 1, 15)) AS BIGINT) % 1000000 AS bucket
            FROM documents),
          lab AS (
            SELECT lang, CASE WHEN bucket < 980000 THEN 'train'
                              WHEN bucket < 990000 THEN 'val'
                              ELSE 'test' END AS split
            FROM b)
          SELECT split, lang, count(*)::BIGINT AS n_docs
          FROM lab GROUP BY 1, 2
        """,
        # q72: the oracle is the textbook global window — correct at any
        # scale in DuckDB, the single-task bottleneck in Spark; the
        # engine's distributed two-level recipe must hash-match it.
        "q72_global_rownum": """
          SELECT event_id, user_id,
                 row_number() OVER (ORDER BY event_id) AS row_num
          FROM events
        """,
        # q73: the recursive CTE replays ALL FIVE Lloyd iterations with
        # the engine's exact arithmetic — micro-int sums, exact-integer
        # double division for the next centroids, (dist, cluster)
        # tie-break = the engine's first-min array_position. The hash
        # match proves the distributed loop is a pure function of data.
        "q73_kmeans_clusters": kmeans_fa_cte + """
          SELECT g.cluster AS cluster_id, g.n_points,
                 [round(x, 9) for x in f.c] AS centroid
          FROM (SELECT cluster, count(*)::BIGINT AS n_points
                FROM fa GROUP BY 1) g
          JOIN final f ON f.cluster = g.cluster
        """,
        # q77: the same bit-exact k-means replay, then an equal
        # per-cluster quota picked by the package hash order — the
        # window twin of cluster_balanced_sample's WindowGroupLimit.
        "q77_cluster_balanced_sample": kmeans_fa_cte + """
          , keyed AS (
            SELECT fa.vec_id, fa.cluster AS cluster_id,
                   CAST(concat('0x', substring(md5(CAST(fa.vec_id AS VARCHAR)
                     || 'cbs'), 1, 15)) AS BIGINT) AS hk
            FROM fa)
          SELECT vec_id, cluster_id, CAST(rn AS INT) AS pick_rank FROM (
            SELECT vec_id, cluster_id,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY hk, vec_id) AS rn
            FROM keyed)
          WHERE rn <= 5
        """,
        # q75: q57's scored CTE + rank-arithmetic tercile cut. The tier
        # comes from ((rn-1)*3)//n over (mean_logp DESC, doc_id) — pure
        # integer math, so no interpolated-boundary ULP risk.
        "q75_ccnet_tiers": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   unnest(string_split_regex(trim(text), '\s+')) AS token
            FROM documents WHERE length(trim(text)) > 0
          ), counts AS (
            SELECT token, count(*) AS c FROM tok GROUP BY token
          ), stats AS (
            SELECT sum(c) * 1.0 AS total, count(*) * 1.0 AS vocab FROM counts
          ), model AS (
            SELECT token,
                   CAST(round(ln((c + 1.0) / (total + 1.0 * (vocab + 1.0))) * 1e6) AS BIGINT) AS mlogp
            FROM counts CROSS JOIN stats
          ), scored AS (
            SELECT t.id, count(*) AS n_tokens,
                   round(sum(m.mlogp) / (count(*) * 1e6), 6) AS mean_logp
            FROM tok t LEFT JOIN model m ON t.token = m.token
            GROUP BY t.id
          ), alldocs AS (
            SELECT b.id AS doc_id,
                   CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
                   coalesce(s.mean_logp, 0.0) AS mean_logp
            FROM (SELECT CAST(doc_id AS VARCHAR) AS id FROM documents) b
            LEFT JOIN scored s ON b.id = s.id
          ), ranked AS (
            SELECT *, row_number() OVER (ORDER BY -mean_logp, doc_id) AS rn,
                   count(*) OVER () AS n
            FROM alldocs)
          SELECT doc_id, n_tokens, mean_logp,
                 CASE ((rn - 1) * 3) // n WHEN 0 THEN 'head'
                      WHEN 1 THEN 'middle' ELSE 'tail' END AS tier
          FROM ranked
        """,
        # q78: interpolated-backoff bigram LM — fit on the md5-selected
        # reference two-thirds, score everything. Identical micro-int
        # arithmetic to the Spark side: one ln per scored bigram,
        # rounded to 1e-6, summed as BIGINTs (order-independent).
        "q78_bigram_lm": r"""
          WITH tok AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE length(trim(text)) > 0
          ), ref AS (
            SELECT * FROM tok
            WHERE CAST(concat('0x', substring(md5(id || 'q78'), 1, 15))
                       AS BIGINT) % 3 <> 0
          ), rbig AS (
            SELECT p.w1 AS w1, p.w2 AS w2 FROM ref,
              unnest([{'w1': t[i], 'w2': t[i+1]}
                      for i in generate_series(1, len(t)-1)]) AS u(p)
          ), c12 AS (
            SELECT w1, w2, count(*)::DOUBLE AS c12 FROM rbig GROUP BY 1, 2
          ), c1 AS (
            SELECT w1, count(*)::DOUBLE AS c1 FROM rbig GROUP BY 1
          ), uc AS (
            SELECT w2, count(*)::DOUBLE AS c
            FROM (SELECT unnest(t) AS w2 FROM ref) GROUP BY 1
          ), us AS (
            SELECT sum(c) AS total, count(*) * 1.0 AS vocab FROM uc
          ), pu AS (
            SELECT w2, (c + 1.0) / (total + 1.0 * (vocab + 1.0)) AS pu
            FROM uc CROSS JOIN us
          ), oov AS (
            SELECT 1.0 / (total + 1.0 * (vocab + 1.0)) AS oov_p FROM us
          ), sbig AS (
            SELECT id, p.w1 AS w1, p.w2 AS w2 FROM tok,
              unnest([{'w1': t[i], 'w2': t[i+1]}
                      for i in generate_series(1, len(t)-1)]) AS u(p)
          ), scored AS (
            SELECT s.id,
                   CAST(round(ln(0.5 * COALESCE(c12.c12 / c1.c1, 0.0)
                                 + 0.5 * COALESCE(pu.pu, oov.oov_p)) * 1e6)
                        AS BIGINT) AS micro,
                   CASE WHEN c12.w1 IS NULL THEN 1 ELSE 0 END AS unseen
            FROM sbig s
            LEFT JOIN c12 ON c12.w1 = s.w1 AND c12.w2 = s.w2
            LEFT JOIN c1 ON c1.w1 = s.w1
            LEFT JOIN pu ON pu.w2 = s.w2
            CROSS JOIN oov
          ), agg AS (
            SELECT id, count(*) AS n_bigrams,
                   round(sum(micro) / (count(*) * 1e6), 6) AS mean_logp,
                   sum(unseen) AS n_unseen
            FROM scored GROUP BY id
          )
          SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                 CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                 COALESCE(a.mean_logp, 0.0) AS mean_logp,
                 CAST(COALESCE(a.n_unseen, 0) AS BIGINT) AS n_unseen
          FROM documents d
          LEFT JOIN agg a ON a.id = CAST(d.doc_id AS VARCHAR)
        """,
        # q79: identical synthetic multi-line construction (8-token
        # lines, md5-planted punctuation/junk/short/lorem lines), then
        # the C4 line rules replayed with the same precedence. Category
        # codes: 0=junk 1=short 2=nopunct 3=keep.
        "q79_c4_clean": r"""
          WITH base AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   string_split_regex(trim(text), '\s+') AS toks,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || 'q79j'), 1, 15))
                        AS BIGINT) AS h
            FROM documents WHERE length(trim(text)) > 0
          ), blines AS (
            SELECT id, h,
              [concat(array_to_string(toks[s*8+1 : s*8+8], ' '),
                      CASE WHEN CAST(concat('0x', substring(
                                 md5(id || '#' || CAST(s AS VARCHAR) || 'q79p'), 1, 15))
                                 AS BIGINT) % 3 <> 0
                           THEN ' .' ELSE '' END)
               for s in generate_series(0, CAST(floor((len(toks)-1)/8.0) AS INT))] AS bl
            FROM base
          ), jl AS (
            SELECT id,
              CASE WHEN h % 11 = 0
                   THEN list_append(l2, 'lorem ipsum dolor sit amet .') ELSE l2 END AS ls
            FROM (
              SELECT id, h,
                CASE WHEN h % 7 = 0 THEN list_append(l1, 'ok .') ELSE l1 END AS l2
              FROM (
                SELECT id, h,
                  CASE WHEN h % 5 = 0
                       THEN list_prepend('please enable javascript and accept the cookie banner .', bl)
                       ELSE bl END AS l1
                FROM blines))
          ), st AS (
            SELECT id, ls AS lines, array_to_string(ls, chr(10)) AS text FROM jl
          ), cls AS (
            SELECT id, lines,
              (contains(lower(text), 'lorem ipsum') OR contains(lower(text), '{')) AS doc_flagged,
              [CASE WHEN contains(lower(l), 'javascript') OR contains(lower(l), 'cookie')
                         OR contains(lower(l), 'privacy policy') THEN 0
                    WHEN (CASE WHEN length(trim(l)) = 0 THEN 0
                               ELSE len(string_split_regex(trim(l), '\s+')) END) < 5 THEN 1
                    WHEN NOT (right(rtrim(l), 1) IN ('.', '!', '?', '"')) THEN 2
                    ELSE 3 END
               for l in lines] AS cat
            FROM st
          )
          SELECT id AS doc_id,
                 CAST(len(lines) AS BIGINT) AS n_lines,
                 CAST(len([c for c in cat if c = 3]) AS BIGINT) AS n_kept,
                 CAST(len([c for c in cat if c = 0]) AS BIGINT) AS n_junk,
                 CAST(len([c for c in cat if c = 1]) AS BIGINT) AS n_short,
                 CAST(len([c for c in cat if c = 2]) AS BIGINT) AS n_nopunct,
                 doc_flagged,
                 COALESCE(array_to_string([lines[i] for i in generate_series(1, len(lines))
                                           if cat[i] = 3], chr(10)), '') AS cleaned
          FROM cls
        """,
        # q80: same bigram/unigram construction as the engine; PMI ratio
        # with pinned parenthesization, snapped to integer micro-nats.
        "q80_pmi_collocations": r"""
          WITH tok AS (
            SELECT string_split_regex(trim(text), '\s+') AS t
            FROM documents WHERE length(trim(text)) > 0
          ), big AS (
            SELECT p.w1 AS w1, p.w2 AS w2 FROM tok,
              unnest([{'w1': t[i], 'w2': t[i+1]}
                      for i in generate_series(1, len(t)-1)]) AS u(p)
          ), pc AS (
            SELECT w1, w2, count(*) AS n_pair FROM big GROUP BY 1, 2
            HAVING count(*) >= 5
          ), uni AS (
            SELECT w, count(*) AS n_w
            FROM (SELECT unnest(t) AS w FROM tok) GROUP BY 1
          ), tot AS (
            SELECT CAST(sum(len(t)) AS DOUBLE) AS tot_t,
                   CAST(sum(greatest(len(t)-1, 0)) AS DOUBLE) AS tot_n
            FROM tok
          )
          SELECT pc.w1, pc.w2,
                 CAST(pc.n_pair AS BIGINT) AS n_pair,
                 CAST(u1.n_w AS BIGINT) AS n_w1,
                 CAST(u2.n_w AS BIGINT) AS n_w2,
                 CAST(round(ln(((CAST(pc.n_pair AS DOUBLE) * tot_t) * tot_t)
                               / ((tot_n * CAST(u1.n_w AS DOUBLE)) * CAST(u2.n_w AS DOUBLE)))
                            * 1e6) AS BIGINT) / 1e6 AS pmi
          FROM pc
          JOIN uni u1 ON u1.w = pc.w1
          JOIN uni u2 ON u2.w = pc.w2
          CROSS JOIN tot
          ORDER BY pmi DESC, pc.w1 ASC, pc.w2 ASC
          LIMIT 50
        """,
        # q81: per-distinct-char count via the length-of-replace trick;
        # -p ln p snapped to integer micro-nats BEFORE the (set-order-
        # independent) sum, same as the engine.
        "q81_char_entropy": r"""
          WITH d AS (
            SELECT CAST(doc_id AS VARCHAR) AS id, text, length(text) AS n,
                   [c for c in list_distinct(string_split(text, ''))
                    if length(c) > 0] AS cs
            FROM documents
          )
          SELECT id AS doc_id,
                 CAST(n AS BIGINT) AS n_chars,
                 CAST(CASE WHEN n = 0 THEN 0 ELSE len(cs) END AS BIGINT) AS n_distinct,
                 CASE WHEN n = 0 THEN 0.0 ELSE
                   -CAST(COALESCE(list_sum(
                      [CAST(round((CAST(n - length(replace(text, c, '')) AS DOUBLE) / n)
                                  * ln(CAST(n - length(replace(text, c, '')) AS DOUBLE) / n)
                                  * 1e6) AS BIGINT)
                       for c in cs]), 0) AS BIGINT) / 1e6
                 END AS entropy
          FROM d
        """,
        # q82: same 1-bit packing (fold acc*2+b over the REVERSED
        # 32-slice), integer Hamming candidates (XOR+popcount), exact
        # cosine rerank of the top rerank*k — all tie-breaks integer/id.
        "q82_hamming_ann": """
          WITH codes AS (
            SELECT vec_id AS id,
              [list_reduce(list_reverse(
                   [CASE WHEN x > 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END
                    for x in embedding[j*32+1 : j*32+32]]),
                 (acc, b) -> acc*2 + b)
               for j in generate_series(0, CAST(ceil(len(embedding)/32.0) AS INT) - 1)] AS words
            FROM embeddings
          ), q AS (
            SELECT id AS q_id, words AS q_words FROM codes WHERE id < 10
          ), cand AS (
            SELECT q.q_id, c.id,
                   list_sum([bit_count(xor(c.words[i], q.q_words[i]))
                             for i in generate_series(1, len(c.words))]) AS ham
            FROM codes c CROSS JOIN q WHERE c.id <> q.q_id
          ), topm AS (
            SELECT q_id, id FROM (
              SELECT q_id, id,
                     row_number() OVER (PARTITION BY q_id ORDER BY ham ASC, id ASC) AS crank
              FROM cand) WHERE crank <= 30
          ), scored AS (
            SELECT t.q_id, t.id AS neighbor_id,
                   round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(qe.embedding[i] AS DOUBLE)
                                   for i in generate_series(1, len(e.embedding))])
                         / (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in e.embedding]))
                            * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in qe.embedding]))), 6) AS score
            FROM topm t
            JOIN embeddings e ON e.vec_id = t.id
            JOIN embeddings qe ON qe.vec_id = t.q_id
          )
          SELECT q_id, neighbor_id, CAST(rank AS INT) AS rank, score FROM (
            SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, neighbor_id ASC) AS rank
            FROM scored)
          WHERE rank <= 10
        """,
        # q74: same md5_long construction; the oracle is the textbook
        # global window over the hash order (single-task in Spark, fine
        # in DuckDB) — the engine's two-level recipe must hash-match it.
        "q74_epoch_shuffle": """
          WITH k AS (
            SELECT doc_id,
                   CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)
                     || 'epoch1'), 1, 15)) AS BIGINT) AS hk
            FROM documents)
          SELECT doc_id,
                 row_number() OVER (ORDER BY hk, doc_id) AS shuffle_pos
          FROM k
        """,
        # q83: identical HLL construction — same 60-bit md5 hash (salt
        # 's83'), p=6 (m=64, rem_bits=54), rho via length(bin()) (both
        # engines print binary without leading zeros), register fold as
        # EXACT integers scaled by 2^55, alpha_64 = 0.709, linear
        # counting below 2.5m with empty registers.
        "q83_hll_distinct": """
          WITH h AS (
            SELECT lang,
                   CAST(concat('0x', substring(md5(text || 's83'), 1, 15)) AS BIGINT) AS hv
            FROM documents WHERE text IS NOT NULL
          ), r AS (
            SELECT lang, hv >> 54 AS reg, hv & 18014398509481983 AS rest FROM h
          ), regs AS (
            SELECT lang, reg,
                   max(CASE WHEN rest = 0 THEN 55
                            ELSE 55 - length(bin(rest)) END) AS m
            FROM r GROUP BY 1, 2
          ), folded AS (
            SELECT lang, count(*) AS v,
                   sum(CAST(pow(2.0, 55 - m) AS BIGINT)) / 36028797018963968.0 AS s
            FROM regs GROUP BY 1
          ), raw AS (
            SELECT lang, v, 0.709 * 4096.0 / (s + (64 - v)) AS e_raw FROM folded
          )
          SELECT lang, CAST(v AS INT) AS n_registers_hit,
                 round(CASE WHEN e_raw <= 160.0 AND v < 64
                            THEN 64.0 * ln(64.0 / (64 - v))
                            ELSE e_raw END, 4) AS est_distinct
          FROM raw
        """,
        # q84: RRF = sum over lists of 1/(60+rank). The lexical list is
        # q52's BM25 recipe verbatim (rank <= 25); the dense list is
        # q17's cosine ranking for the single query vec_id=0 (rank <=
        # 25). Contributions are at most two doubles per doc — the sum
        # is a single IEEE op, engine-identical.
        "q84_rrf_fusion": """
          WITH norm AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
            FROM documents
          ), base AS (
            SELECT id, CASE WHEN length(t) > 0 THEN len(string_split(t, ' ')) ELSE 0 END AS dl,
                   string_split(t, ' ') AS w
            FROM norm
          ), stats AS (
            SELECT count(*) * 1.0 AS n_docs, avg(dl) AS avgdl FROM base
          ), matched AS (
            SELECT id, dl, unnest(w) AS term FROM base
          ), tf AS (
            SELECT id, dl, term, count(*) AS tf FROM matched
            WHERE term IN ('spark', 'hash', 'join', 'window')
            GROUP BY 1, 2, 3
          ), dft AS (
            SELECT term, count(*) * 1.0 AS df FROM tf GROUP BY term
          ), scored AS (
            SELECT tf.id,
                   round(sum(ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                         * tf.tf * 2.2
                         / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 6) AS score
            FROM tf JOIN dft d ON tf.term = d.term CROSS JOIN stats s
            GROUP BY tf.id
          ), lex AS (
            SELECT doc_id, rank FROM (
              SELECT id AS doc_id,
                     row_number() OVER (ORDER BY score DESC, id ASC) AS rank
              FROM scored)
            WHERE rank <= 25
          ), q AS (
            SELECT embedding AS q_vec FROM embeddings WHERE vec_id = 0
          ), dscored AS (
            SELECT e.vec_id AS nid,
                   round(list_sum([CAST(e.embedding[i] AS DOUBLE) * CAST(q.q_vec[i] AS DOUBLE)
                                   for i in generate_series(1, len(e.embedding))])
                         / (sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in e.embedding]))
                            * sqrt(list_sum([CAST(x AS DOUBLE)*CAST(x AS DOUBLE) for x in q.q_vec]))), 6) AS score
            FROM embeddings e, q WHERE e.vec_id <> 0
          ), dense AS (
            SELECT CAST(nid AS VARCHAR) AS doc_id, rank FROM (
              SELECT nid, row_number() OVER (ORDER BY score DESC, nid ASC) AS rank
              FROM dscored)
            WHERE rank <= 25
          ), u AS (
            SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM lex
            UNION ALL
            SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM dense
          )
          SELECT doc_id, round(sum(c), 6) AS rrf_score, count(*) AS n_lists
          FROM u GROUP BY doc_id
          ORDER BY rrf_score DESC, doc_id ASC LIMIT 20
        """,
        # q85: identical smoothed-idf tf-idf (sklearn's ln((N+1)/(df+1))
        # + 1), same normalization as q47/q52, vocabulary pruned to
        # 2 <= df <= 50 BEFORE pairing, threshold applied to the
        # 6dp-ROUNDED cosine in both engines.
        "q85_tfidf_pairs": """
          WITH norm AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
            FROM documents
          ), n_docs AS (
            SELECT count(*) * 1.0 AS n FROM norm
          ), terms AS (
            SELECT id, unnest(string_split(t, ' ')) AS term FROM norm
          ), tf AS (
            SELECT id, term, count(*) AS tf FROM terms
            WHERE length(term) > 0 GROUP BY 1, 2
          ), dft AS (
            SELECT term, count(*) AS df_t FROM tf GROUP BY 1
          ), kept AS (
            SELECT term, df_t FROM dft WHERE df_t BETWEEN 2 AND 50
          ), post AS (
            SELECT tf.id, tf.term,
                   tf.tf * (ln((n.n + 1.0) / (k.df_t + 1.0)) + 1.0) AS w
            FROM tf JOIN kept k USING (term) CROSS JOIN n_docs n
          ), norms AS (
            SELECT id, sqrt(sum(w * w)) AS nrm FROM post GROUP BY 1
          ), dots AS (
            SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
            FROM post a JOIN post b USING (term)
            WHERE a.id < b.id GROUP BY 1, 2
          )
          SELECT id_a, id_b, cosine_sim FROM (
            SELECT d.id_a, d.id_b,
                   round(d.dot / (na.nrm * nb.nrm), 6) AS cosine_sim
            FROM dots d
            JOIN norms na ON na.id = d.id_a
            JOIN norms nb ON nb.id = d.id_b)
          WHERE cosine_sim >= 0.3
        """,
        # q86: identical winnowing — same normalization + k=3 grams
        # hashed with the 60-bit md5 construction (salt 's86'), window
        # w=4 minima (window shrinks to the gram count below w),
        # per-doc DISTINCT fingerprints, df cap 2..50, pairs sharing
        # >= 2 prints.
        "q86_winnow_pairs": """
          WITH norm AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   trim(regexp_replace(regexp_replace(regexp_replace(lower(text), '\\s+', ' ', 'g'), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS t
            FROM documents
          ), base AS (
            SELECT id, w, len(w) AS n FROM (
              SELECT id, string_split(t, ' ') AS w FROM norm)
            WHERE len(w) >= 3 AND length(array_to_string(w, '')) > 0
          ), grams AS (
            SELECT id,
                   [CAST(concat('0x', substring(md5(array_to_string(w[i : i + 2], ' ') || 's86'), 1, 15)) AS BIGINT)
                    for i in generate_series(1, n - 2)] AS g
            FROM base
          ), sel AS (
            SELECT id, g, len(g) AS ng, least(4, len(g)) AS wl FROM grams
          ), fps AS (
            SELECT DISTINCT id, fp FROM (
              SELECT id,
                     unnest([list_min(g[j : j + wl - 1])
                             for j in generate_series(1, ng - wl + 1)]) AS fp
              FROM sel)
          ), dfc AS (
            SELECT fp, count(*) AS dfn FROM fps GROUP BY 1
          ), kept AS (
            SELECT f.fp, f.id FROM fps f JOIN dfc d USING (fp)
            WHERE d.dfn BETWEEN 2 AND 50
          )
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS n_shared
          FROM kept a JOIN kept b USING (fp)
          WHERE a.id < b.id
          GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        # q87: textbook gaps-and-islands — change marker via null-safe
        # lag compare, running-sum island id, min/count per island,
        # lead(valid_from) for the half-open upper bound. The (ts,
        # tiebreak) order is unique per key, so the default RANGE frame
        # equals ROWS in both engines.
        "q87_scd2_history": """
          WITH marked AS (
            SELECT o_custkey, o_orderdate, o_orderstatus, o_orderkey,
                   CASE WHEN lag(o_orderstatus) OVER w IS NOT DISTINCT FROM o_orderstatus
                        THEN 0 ELSE 1 END AS chg
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
          ), isl AS (
            SELECT o_custkey, o_orderdate, o_orderstatus,
                   sum(chg) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC, o_orderkey ASC) AS island
            FROM marked
          ), agg AS (
            SELECT o_custkey, island, o_orderstatus AS state,
                   min(o_orderdate) AS valid_from, count(*) AS n_observations
            FROM isl GROUP BY 1, 2, 3
          )
          SELECT o_custkey, state, valid_from,
                 lead(valid_from) OVER w2 AS valid_to,
                 lead(valid_from) OVER w2 IS NULL AS is_current,
                 n_observations
          FROM agg
          WINDOW w2 AS (PARTITION BY o_custkey ORDER BY island ASC)
        """,
        # q88/q89: the interleaved-span construction (12-token chunks,
        # media after every i%3==2 chunk, image/video by (doc_id+i)
        # parity) reproduced row-wise; stats via lag + gaps-and-islands,
        # captions via lag/lead adjacency with the same preceding-first
        # rule and token bounds.
        "q88_interleave_stats": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), raw AS (
            SELECT doc_id, i*2 AS ord, 'text' AS kind,
                   array_to_string(w[i*12+1 : i*12+12], ' ') AS text
            FROM chunks
            UNION ALL
            SELECT doc_id, i*2+1 AS ord,
                   CASE WHEN (doc_id + i) % 2 = 0 THEN 'image' ELSE 'video' END,
                   ''
            FROM chunks WHERE i % 3 = 2
          ), s AS (
            SELECT doc_id, text,
                   CASE WHEN kind = 'text' THEN 'T' ELSE 'M' END AS cat,
                   lag(CASE WHEN kind = 'text' THEN 'T' ELSE 'M' END)
                     OVER (PARTITION BY doc_id ORDER BY ord) AS prev,
                   row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
            FROM raw
          ), grps AS (
            SELECT doc_id,
                   rn - row_number() OVER (PARTITION BY doc_id ORDER BY rn) AS grp
            FROM s WHERE cat = 'T'
          ), runs AS (
            SELECT doc_id, count(*) AS rl
            FROM grps GROUP BY doc_id, grp
          )
          SELECT CAST(st.doc_id AS VARCHAR) AS doc_id,
                 st.n_spans, st.n_text, st.n_media, st.n_transitions,
                 COALESCE(mr.max_text_run, 0) AS max_text_run, st.text_chars
          FROM (
            SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
                   CAST(sum(CASE WHEN cat='T' THEN 1 ELSE 0 END) AS INT) AS n_text,
                   CAST(sum(CASE WHEN cat='M' THEN 1 ELSE 0 END) AS INT) AS n_media,
                   CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> cat THEN 1 ELSE 0 END) AS INT) AS n_transitions,
                   CAST(sum(CASE WHEN cat='T' THEN len(text) ELSE 0 END) AS BIGINT) AS text_chars
            FROM s GROUP BY doc_id
          ) st
          LEFT JOIN (
            SELECT doc_id, CAST(max(rl) AS INT) AS max_text_run
            FROM runs GROUP BY doc_id
          ) mr USING (doc_id)
        """,
        "q89_caption_pairs": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), raw AS (
            SELECT doc_id, i*2 AS ord, 'text' AS kind,
                   array_to_string(w[i*12+1 : i*12+12], ' ') AS text,
                   '' AS media_ref
            FROM chunks
            UNION ALL
            SELECT doc_id, i*2+1 AS ord,
                   CASE WHEN (doc_id + i) % 2 = 0 THEN 'image' ELSE 'video' END,
                   '', 'asset-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)
            FROM chunks WHERE i % 3 = 2
          ), nb AS (
            SELECT doc_id, kind, media_ref,
                   lag(kind)  OVER w AS pk, lag(text)  OVER w AS pt,
                   lead(kind) OVER w AS nk, lead(text) OVER w AS nt
            FROM raw
            WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
          ), cap AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id, media_ref,
                   kind AS media_kind,
                   CASE WHEN pk = 'text' THEN pt
                        WHEN nk = 'text' THEN nt END AS caption,
                   CASE WHEN pk = 'text' THEN 'before'
                        WHEN nk = 'text' THEN 'after' END AS cap_src
            FROM nb WHERE kind <> 'text'
          )
          SELECT doc_id, media_ref, media_kind, caption, cap_src,
                 CAST(CASE WHEN len(trim(caption)) = 0 THEN 0
                      ELSE len(string_split_regex(trim(caption), '\\s+')) END AS INT)
                   AS n_cap_tokens
          FROM cap
          WHERE caption IS NOT NULL
            AND (CASE WHEN len(trim(caption)) = 0 THEN 0
                 ELSE len(string_split_regex(trim(caption), '\\s+')) END) BETWEEN 2 AND 64
        """,
        # q90: multimodal fingerprint = md5 over chr(31)-joined canonical
        # span tokens ('T:'+md5(normalized text) / 'M:'+sha256(blob)); the
        # +1000000 clones (text AND media content preserved) pair up, the
        # +2000001 clones (media content flipped) stay singletons.
        "q90_multimodal_dedup": """
          WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents
            UNION ALL
            SELECT doc_id + 2000001, text FROM documents WHERE doc_id % 5 = 0
          ), tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM corpus
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), raw AS (
            SELECT doc_id, i*2 AS ord,
                   'T:' || md5(lower(trim(regexp_replace(
                     array_to_string(w[i*12+1 : i*12+12], ' '), '\\s+', ' ', 'g')))) AS tok
            FROM chunks
            UNION ALL
            SELECT doc_id, i*2+1 AS ord,
                   'M:' || sha256('blob-' || CAST(doc_id % 25 AS VARCHAR)
                                  || '-' || CAST(i AS VARCHAR)) AS tok
            FROM chunks WHERE i % 3 = 2
          ), fp AS (
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   md5(string_agg(chr(31) || tok, '' ORDER BY ord)) AS f
            FROM raw GROUP BY doc_id
          ), g AS (
            SELECT f, min(doc_id) AS canonical_id,
                   CAST(count(*) AS INT) AS n_copies
            FROM fp GROUP BY f
          )
          SELECT fp.doc_id, g.canonical_id, g.n_copies
          FROM fp JOIN g USING (f)
        """,
        # q91: dangling = every i=5 ref (absent from the asset store);
        # orphan = the extra per-doc%10 asset nothing references.
        "q91_media_integrity": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), refs AS (
            SELECT doc_id, i,
                   'asset-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS ref
            FROM chunks WHERE i % 3 = 2
          ), refcount AS (
            SELECT ref, CAST(count(DISTINCT doc_id) AS INT) AS n_docs
            FROM refs GROUP BY ref
          ), media AS (
            SELECT DISTINCT ref AS asset FROM refs WHERE i <> 5
            UNION
            SELECT 'asset-orphan-' || CAST(doc_id AS VARCHAR)
            FROM documents WHERE doc_id % 10 = 0
          )
          SELECT 'dangling_ref' AS status, rc.ref AS key, rc.n_docs
          FROM refcount rc
          WHERE rc.ref NOT IN (SELECT asset FROM media)
          UNION ALL
          SELECT 'orphan_asset', m.asset, 0
          FROM media m
          WHERE m.asset NOT IN (SELECT ref FROM refs)
        """,
        # q96: modality classes by media-span count over the interleaved
        # construction, multimodal token masses, then q62's UniMax
        # temperature tail (micro-int weight normalizer).
        "q96_modality_mixture": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), base AS (
            SELECT CASE WHEN len(trim(array_to_string(w, ' '))) = 0 THEN 0
                        ELSE len(w) END AS tt,
                   greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) AS nc
            FROM tok
          ), per_doc AS (
            SELECT CASE WHEN nm = 0 THEN 'text_only'
                        WHEN nm < 4 THEN 'light_multimodal'
                        ELSE 'media_rich' END AS domain,
                   tt + 64 * nm AS ntok
            FROM (SELECT tt, CAST(floor(nc / 3.0) AS INT) AS nm FROM base)
          ), per AS (
            SELECT domain, count(*) AS n_docs, sum(ntok) AS n_tokens
            FROM per_doc GROUP BY domain
          ), tot AS (
            SELECT sum(n_tokens) * 1.0 AS total FROM per
          ), w AS (
            SELECT domain, n_docs, n_tokens, total,
                   CAST(round(pow(n_tokens / total, 0.3) * 1e9) AS BIGINT) AS mw
            FROM per CROSS JOIN tot
          ), norm AS (
            SELECT sum(mw) AS msum FROM w
          )
          SELECT domain,
                 CAST(n_docs AS BIGINT) AS n_docs,
                 CAST(n_tokens AS BIGINT) AS n_tokens,
                 round(n_tokens / total, 6) AS p_raw,
                 round(mw * 1.0 / msum, 6) AS p_mix,
                 CAST(round(1000000.0 * mw / msum) AS BIGINT) AS target_tokens,
                 round(CASE WHEN n_tokens > 0
                            THEN 1000000.0 * mw / msum / n_tokens
                            ELSE 0.0 END, 6) AS epochs
          FROM w CROSS JOIN norm
        """,
        # q99: per-document next-fit window segmentation replayed as a
        # recursive CTE over span costs (text = slice token count with
        # the blank-chunk zero, media = 64) in offset order; text-span
        # offset = i + floor(i/3), media = i + 1 + floor(i/3).
        "q99_segment_spans": """
          WITH RECURSIVE tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), sp AS (
            -- m=0: the text chunk; m=1: its media span (i%3==2 only).
            -- A UNION ALL here would be parsed as a recursive term
            -- inside WITH RECURSIVE (the q41-oracle gotcha), so the
            -- two span kinds come from a 2-row cross join instead.
            SELECT doc_id, 2*i + m AS ord,
                   CAST(i + m + CAST(floor(i / 3.0) AS INT) AS INT) AS off,
                   CASE WHEN m = 0 THEN 'text'
                        WHEN (doc_id + i) % 2 = 0 THEN 'image'
                        ELSE 'video' END AS kind,
                   CAST(CASE WHEN m = 1 THEN 64
                             WHEN len(trim(array_to_string(w[i*12+1 : i*12+12], ' '))) = 0
                             THEN 0
                             ELSE least(12, len(w) - 12*i) END AS BIGINT) AS cost
            FROM chunks CROSS JOIN (VALUES (0), (1)) AS mm(m)
            WHERE m = 0 OR i % 3 = 2
          ), ordd AS (
            SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS rn
            FROM sp
          ), seg AS (
            SELECT doc_id, rn, off, kind, cost, 0 AS win, cost AS run
            FROM ordd WHERE rn = 1
            UNION ALL
            SELECT o.doc_id, o.rn, o.off, o.kind, o.cost,
                   CASE WHEN p.run > 0 AND p.run + o.cost > 128
                        THEN p.win + 1 ELSE p.win END,
                   CASE WHEN p.run > 0 AND p.run + o.cost > 128
                        THEN o.cost ELSE p.run + o.cost END
            FROM ordd o JOIN seg p ON o.doc_id = p.doc_id AND o.rn = p.rn + 1
          )
          SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(win AS INT) AS win_id,
                 off AS offset, kind, cost AS span_tokens
          FROM seg
        """,
        # q92: q41's recursive next-fit replay with the multimodal cost
        # model — text tokens + 64 per media span, where n_media =
        # floor(n_chunks/3) (chunks i%3==2 carry a media span).
        "q92_multimodal_packing": """
          WITH RECURSIVE base AS (
            SELECT CAST(doc_id AS VARCHAR) AS id,
                   CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS tt,
                   greatest(CAST(ceil(len(string_split_regex(trim(text), '\\s+')) / 12.0) AS INT), 1) AS nc
            FROM documents
          ), docs AS (
            SELECT id,
                   CAST(tt + 64 * CAST(floor(nc / 3.0) AS INT) AS BIGINT) AS n_tokens,
                   CAST(CAST(concat('0x', substring(md5(id), 1, 15)) AS BIGINT) % 8 AS INT) AS shard
            FROM base
          ), ord AS (
            SELECT *, row_number() OVER (PARTITION BY shard ORDER BY id) AS rn
            FROM docs
          ), pack AS (
            SELECT shard, rn, id, n_tokens,
                   0 AS seq_id, 0 AS seq_pos, n_tokens AS run
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.rn, o.id, o.n_tokens,
                   CASE WHEN p.run + o.n_tokens > 512 THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.run + o.n_tokens > 512 THEN 0 ELSE p.seq_pos + 1 END,
                   CASE WHEN p.run + o.n_tokens > 512 THEN o.n_tokens ELSE p.run + o.n_tokens END
            FROM ord o JOIN pack p ON o.shard = p.shard AND o.rn = p.rn + 1
          )
          SELECT id AS doc_id, shard, CAST(seq_id AS INT) AS seq_id,
                 CAST(seq_pos AS INT) AS seq_pos,
                 CAST(n_tokens AS BIGINT) AS n_tokens
          FROM pack
        """,
        # q93: content-addressed asset mapping — payload class
        # 'blob-<doc%25>-<i>' collapses each (doc%25, i) to the
        # lexicographic-min asset id; reclaim = bytes of non-canonicals.
        "q93_asset_dedup": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), media AS (
            SELECT DISTINCT
                   'asset-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS asset_id,
                   'blob-' || CAST(doc_id % 25 AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS payload
            FROM chunks WHERE i % 3 = 2
          ), d AS (
            SELECT asset_id, sha256(payload) AS sha,
                   CAST(len(payload) AS BIGINT) AS b
            FROM media
          ), g AS (
            SELECT sha, min(asset_id) AS canonical_id,
                   CAST(count(*) AS INT) AS n_copies
            FROM d GROUP BY sha
          )
          SELECT d.asset_id, d.sha, g.canonical_id, g.n_copies,
                 CASE WHEN d.asset_id <> g.canonical_id THEN d.b
                      ELSE CAST(0 AS BIGINT) END AS reclaim_bytes
          FROM d JOIN g USING (sha)
        """,
        # q94: rewritten media spans — canonical ref per (doc%25, i)
        # class; interleaved offset of chunk i's media span is
        # i + 1 + floor(i/3) (i+1 text chunks plus the media spans of
        # earlier i%3==2 chunks precede it); kind by (doc_id+i) parity.
        "q94_ref_rewrite": """
          WITH tok AS (
            SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
            FROM documents
          ), chunks AS (
            SELECT doc_id, w,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(len(w) / 12.0) AS INT), 1) - 1)) AS i
            FROM tok
          ), refs AS (
            SELECT doc_id, i,
                   'asset-' || CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS ref,
                   'blob-' || CAST(doc_id % 25 AS VARCHAR) || '-' || CAST(i AS VARCHAR) AS payload
            FROM chunks WHERE i % 3 = 2
          ), g AS (
            SELECT payload, min(ref) AS canonical_id
            FROM (SELECT DISTINCT ref, payload FROM refs) GROUP BY payload
          )
          SELECT CAST(r.doc_id AS VARCHAR) AS doc_id,
                 CAST(r.i + 1 + CAST(floor(r.i / 3.0) AS INT) AS INT) AS offset,
                 CASE WHEN (r.doc_id + r.i) % 2 = 0 THEN 'image'
                      ELSE 'video' END AS kind,
                 g.canonical_id AS media_ref
          FROM refs r JOIN g USING (payload)
        """,
    }


def oracle_sql() -> dict[str, str]:
    d = _oracle_sql_literals()
    # q50 is q47's decontamination behind a bloom pre-filter tier; the
    # bloom has no false negatives and false positives die in the exact
    # join, so the ANSWER must be bit-identical to the exact recipe —
    # the oracle IS q47's SQL, and the hash match is the proof.
    d["q50_bloom_decontaminate"] = d["q47_decontaminate"]
    # q184: q17's brute replay is the TRUTH set, q25's IVF replay the
    # candidate; recall@10 joined per query in integer ppm.
    d["q184_ann_recall"] = (
        "WITH brute AS ("
        + d["q17_ann_topk"]
        + "), ivf AS ("
        + d["q25_ivf_topk"]
        + """)
          , hit AS (
            SELECT b.q_id, b.neighbor_id,
                   EXISTS (SELECT 1 FROM ivf v
                           WHERE v.q_id = b.q_id
                             AND v.neighbor_id = b.neighbor_id) AS m
            FROM brute b
          )
          SELECT q_id, count(*)::BIGINT AS n_truth,
                 sum(CASE WHEN m THEN 1 ELSE 0 END)::BIGINT AS n_matched,
                 CAST(sum(CASE WHEN m THEN 1 ELSE 0 END)
                      * 1000000 // count(*) AS BIGINT) AS recall_ppm
          FROM hit GROUP BY 1
        """
    )
    return d

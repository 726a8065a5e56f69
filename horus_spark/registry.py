"""Versioned model/config registry — the engine's equivalent of the
reference's ModelTraining table and training workflow.

Reference semantics reproduced:
- registry rows (DocumentFormat, ModelId, ModelVersion, config, accuracy,
  created_ts) — reference Horus.Functions/HorusSql.cs:38-45 (DDL)
- registration assigns ModelVersion = MAX(existing for format) + 1 —
  reference HorusSql.cs:145-208 (UpdateModelTraining), expressed here as a
  write-time window aggregate (no read-modify-write round trip)
- per-document model lookup takes the row with the highest version for the
  document's format — reference HorusSql.cs:77-81 (GetModelByDocumentFormat),
  expressed as a window argmax; the registry is a tiny dimension, so the
  pipeline collects its latest rows once (read_latest) and stamps each
  document from a literal map on its format prefix — no join

The `config` column is a JSON blob of the per-format extraction config
(anchor lexicons / layout flags — horus_spark/config.FORMAT_CONFIGS is the
v1 bootstrap content). `run_extraction(registry=...)` takes the latest
configs (bounded: one row per format) from that same read and ships them
to executors inside the recognize kernel closure, so registering a new
config version changes extraction behavior with no code change — the
reference's "train a new model, pipeline picks it up" workflow.
"""

from __future__ import annotations

import datetime as dt
import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from horus_spark.config import FORMAT_CONFIGS

REGISTRY_SCHEMA = (
    "document_format string, model_id string, model_version int, "
    "config string, average_model_accuracy double, n_training_docs int, "
    "created_ts timestamp"
)

_EPOCH = dt.datetime(2026, 1, 1)


def bootstrap_registry(spark: SparkSession) -> DataFrame:
    """v1 registry seeded from the built-in per-format configs."""
    rows = [
        (fmt, f"model-{fmt}-0001", 1, json.dumps(cfg), 0.95, 0, _EPOCH)
        for fmt, cfg in sorted(FORMAT_CONFIGS.items())
    ]
    return spark.createDataFrame(rows, REGISTRY_SCHEMA)


def migrate_registry(registry: DataFrame) -> DataFrame:
    """Upgrade a registry frame persisted under an older schema: any
    REGISTRY_SCHEMA column the frame lacks is added as typed NULLs
    (the reference's ALTER TABLE ... ADD analog). Round-2/3 registries
    predate `average_model_accuracy`/`n_training_docs`; without this,
    re-loading one and registering into it would silently drop the new
    metadata (the select(*registry.columns) projection) or break
    consumers selecting the new columns."""
    from pyspark.sql.types import _parse_datatype_string

    want = _parse_datatype_string(REGISTRY_SCHEMA)
    out = registry
    for field in want.fields:
        if field.name not in out.columns:
            out = out.withColumn(
                field.name, F.lit(None).cast(field.dataType)
            )
    return out.select(*[f.name for f in want.fields])


def register_model(
    registry: DataFrame,
    document_format: str,
    model_id: str,
    config: dict | str,
    accuracy: float = 0.0,
    n_training_docs: int = 0,
    created_ts: dt.datetime | None = None,
) -> DataFrame:
    """Append a new model registration with version = MAX(fmt)+1
    (HorusSql.cs:160-182 semantics). Returns the new registry frame; write
    it back with an append of `result.filter(is_new)` or a full overwrite —
    versions are assigned by the window, never read-modify-write.

    `accuracy` / `n_training_docs` are the reference's ModelTraining
    metadata columns (ModelTrainer.cs:186-224 parses averageModelAccuracy
    and the trainingDocumentResults count from the training response);
    register_trained_model derives them from scoring output."""
    registry = migrate_registry(registry)
    spark = registry.sparkSession
    cfg_json = config if isinstance(config, str) else json.dumps(config)
    new_row = spark.createDataFrame(
        [
            (
                document_format,
                model_id,
                None,
                cfg_json,
                accuracy,
                n_training_docs,
                created_ts or _EPOCH,
            )
        ],
        REGISTRY_SCHEMA,
    )
    max_v = registry.groupBy("document_format").agg(
        F.max("model_version").alias("__max_v")
    )
    versioned = (
        new_row.drop("model_version")
        .join(F.broadcast(max_v), "document_format", "left")
        .withColumn("model_version", (F.coalesce(F.col("__max_v"), F.lit(0)) + 1).cast("int"))
        .drop("__max_v")
        .select(*registry.columns)
    )
    return registry.unionByName(versioned)


def register_trained_model(
    registry: DataFrame,
    document_format: str,
    model_id: str,
    config: dict | str,
    scores: DataFrame,
    score_col: str = "score",
    created_ts: dt.datetime | None = None,
) -> DataFrame:
    """Register a model WITH training metadata derived from scoring
    output — the engine's analog of the reference's post-training parse
    (ModelTrainer.cs:186-224: averageModelAccuracy and the count of
    trainingDocumentResults from the service response). Here "training"
    is config registration and the metadata comes from the Inspector-
    style scoring frame (operators/scoring.score_documents: one row per
    document, score 0-100):

    - average_model_accuracy = avg(score)/100 (the reference stores a
      0-1 ratio), rounded to 6 places for engine parity
    - n_training_docs = number of scored documents

    The aggregation is one bounded job over the scores frame (per-doc
    rows, already tiny relative to the corpus)."""
    row = scores.agg(
        F.round(F.avg(score_col) / 100.0, 6).alias("acc"),
        F.count("*").alias("n"),
    ).collect()[0]
    return register_model(
        registry,
        document_format,
        model_id,
        config,
        accuracy=float(row.acc) if row.acc is not None else 0.0,
        n_training_docs=int(row.n),
        created_ts=created_ts,
    )


def latest_models(registry: DataFrame) -> DataFrame:
    """One row per format: the highest-version model (GetModelByDocumentFormat
    argmax, HorusSql.cs:77-81). Ties (same version) break on model_id for
    determinism."""
    w = Window.partitionBy("document_format").orderBy(
        F.desc("model_version"), F.desc("model_id")
    )
    return (
        registry.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def read_latest(registry: DataFrame) -> tuple[dict[str, dict], dict[str, tuple]]:
    """Collect the latest model per format (a tiny dim: one row per
    format) -> (fmt -> extraction config, fmt -> (model_id,
    model_version)). The one registry read an extraction job makes: the
    configs ship into the recognize kernel closure and the stamps become a
    literal map on the doc_id's format prefix."""
    rows = latest_models(registry).select(
        "document_format", "model_id", "model_version", "config"
    ).collect()
    rows = [r for r in rows if r[0] is not None]  # no doc_id has a NULL format
    return {r[0]: json.loads(r[3]) for r in rows}, {r[0]: (r[1], r[2]) for r in rows}


def latest_configs(registry: DataFrame) -> dict[str, dict]:
    """The latest per-format extraction configs (read_latest's first
    half)."""
    return read_latest(registry)[0]

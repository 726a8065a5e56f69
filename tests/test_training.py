"""Learned-anchor training (horus_spark/training.py): the
ModelTrainer-parity path — labeled documents -> per-format config ->
registry version N+1 -> identical extraction."""

import pandas as pd
import pytest

from horus_spark.config import FORMAT_CONFIGS
from horus_spark.training import (
    _shape_regex,
    generator_examples,
    reference_example,
    train_format_config,
)

FIXTURE_IDS = [f"INVOICE-3000{i}" for i in range(1, 6)]


def test_abc_trained_from_reference_labels_exact():
    # the 5 quickstart labelling-tool files reproduce the hand-written
    # abc config EXACTLY — anchors, shape regex, and row structure
    got = train_format_config([reference_example(f) for f in FIXTURE_IDS])
    assert got == FORMAT_CONFIGS["abc"]


@pytest.mark.parametrize("fmt", sorted(FORMAT_CONFIGS))
def test_all_formats_trained_from_generator_exact(fmt):
    got = train_format_config(generator_examples(fmt, n=6))
    assert got == FORMAT_CONFIGS[fmt]


def test_single_doc_insufficient_for_consistency():
    # one labeled doc trains (no cross-checking possible); five docs
    # agreeing is the consistency signal — an example from a DIFFERENT
    # format mixed in must be rejected loudly, not averaged over
    abc = generator_examples("abc", n=2)
    oscorp = generator_examples("oscorp", n=1)
    with pytest.raises(ValueError, match="inconsistent"):
        train_format_config(abc + oscorp)


@pytest.mark.parametrize("missing", ["Inv", "AccountNo", "TaxDate"])
def test_missing_header_label_is_named(missing):
    examples = generator_examples("abc", n=2)
    for ex in examples:
        del ex["labels"][missing]
    with pytest.raises(ValueError, match=f"no example carries a '{missing}' label"):
        train_format_config(examples)


@pytest.mark.parametrize(
    "words", [lambda w: w.iloc[0:0], lambda w: pd.DataFrame()], ids=["no_rows", "no_columns"]
)
def test_example_without_words_is_named(words):
    examples = generator_examples("abc", n=3)
    examples[1]["words"] = words(pd.DataFrame(examples[1]["words"]))
    with pytest.raises(ValueError, match="example 1 has no OCR words"):
        train_format_config(examples)


def test_shape_regex_generalization():
    assert _shape_regex(["22/07/2020", "01/12/1999"]) == r"^\d{2}/\d{2}/\d{4}$"
    assert _shape_regex(["OXOUHJ", "ABCDEF"]) == "^[A-Z]{6}$"
    assert (
        _shape_regex(["22/07/2020 10:11:12"])
        == r"^\d{2}/\d{2}/\d{4} \d{2}:\d{2}:\d{2}$"
    )
    with pytest.raises(ValueError, match="inconsistent"):
        _shape_regex(["22/07/2020", "ABCDEF"])


def test_trained_config_reproduces_extraction_on_fixtures():
    # the hard parity claim: swapping the hand-written config for the
    # TRAINED one changes NOTHING about extraction on the reference
    # fixtures (field maps and contributing-fragment sets identical)
    from horus_spark.fixtures.reference_fixtures import ocr_words_pdf
    from horus_spark.operators.fields import extract_fields
    from horus_spark.operators.layout import (
        cluster_lines,
        fragments_view,
        infer_grid,
    )

    trained = {"abc": train_format_config(
        [reference_example(f) for f in FIXTURE_IDS]
    )}
    for fid in FIXTURE_IDS:
        frags = fragments_view(cluster_lines(ocr_words_pdf(fid)))
        grid = infer_grid(frags)
        base_fields, base_used = extract_fields(frags, grid, "abc")
        got_fields, got_used = extract_fields(
            frags, grid, "abc", configs=trained
        )
        assert got_fields == base_fields and base_fields
        assert got_used == base_used


def test_registry_roundtrip_version_bump(spark):
    # register the trained config as version MAX+1 with training
    # metadata; latest_configs must serve the trained artifact
    from pyspark.sql import functions as F

    from horus_spark.registry import (
        bootstrap_registry,
        latest_configs,
        register_trained_model,
    )

    trained = train_format_config(generator_examples("nouryon", n=5))
    reg = bootstrap_registry(spark)
    scores = spark.createDataFrame(
        [("d1", 96.0), ("d2", 88.0)], "doc_id string, score double"
    )
    reg2 = register_trained_model(
        reg, "nouryon", "model-nouryon-trained", trained, scores
    )
    row = (
        reg2.filter(F.col("model_id") == "model-nouryon-trained")
        .collect()[0]
    )
    assert row["model_version"] == 2
    assert row["average_model_accuracy"] == 0.92
    assert row["n_training_docs"] == 2
    assert latest_configs(reg2)["nouryon"] == trained
    # the other formats still serve v1 (unaffected)
    assert latest_configs(reg2)["abc"] == FORMAT_CONFIGS["abc"]


def test_label_boxes_are_emitted_by_generator():
    from horus_spark.fixtures.generator import generate_document

    d = generate_document(30000)
    assert d["label_boxes"]
    for key, bbox in d["label_boxes"].items():
        assert key in d["fields"]
        assert len(bbox) == 8
    # every header label that has a token carries a box
    assert {"Inv", "AccountNo", "TaxDate"} <= set(d["label_boxes"])

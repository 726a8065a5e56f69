"""Model-registry versioning (reference HorusSql.cs:77-81,145-208) and the
pluggable processing-engine surface (reference EngineFactory.cs:9-26,
SampleCustomerProcessingEngine.cs:27-79)."""

import json

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from horus_spark.config import FORMAT_CONFIGS
from horus_spark.engines import get_engine
from horus_spark.operators.shred import raw_arrays, shred_fast
from horus_spark.registry import bootstrap_registry, latest_models, register_model


def test_register_assigns_max_plus_one(spark):
    reg = bootstrap_registry(spark)
    reg2 = register_model(reg, "abc", "model-abc-0002", FORMAT_CONFIGS["abc"])
    versions = {
        (r.document_format, r.model_version) for r in reg2.collect()
    }
    assert ("abc", 1) in versions and ("abc", 2) in versions
    assert ("oscorp", 1) in versions and ("nouryon", 1) in versions
    # unseen format starts at version 1 (MAX of empty -> 0 + 1)
    reg3 = register_model(reg2, "newfmt", "model-newfmt-0001", {})
    assert {
        r.model_version for r in reg3.filter(F.col("document_format") == "newfmt").collect()
    } == {1}


def test_latest_models_argmax(spark):
    reg = bootstrap_registry(spark)
    reg = register_model(reg, "abc", "model-abc-0002", FORMAT_CONFIGS["abc"])
    reg = register_model(reg, "abc", "model-abc-0003", FORMAT_CONFIGS["abc"])
    latest = {r.document_format: r for r in latest_models(reg).collect()}
    assert latest["abc"].model_version == 3
    assert latest["abc"].model_id == "model-abc-0003"
    assert latest["oscorp"].model_version == 1


def test_pipeline_picks_up_registered_config(spark):
    """Register a v2 config for 'abc' whose account anchor cannot match:
    the pipeline must stamp model_version=2 on abc docs AND lose the
    account field for them (proving the registry config reaches the layout
    kernel), while other formats stay on v1 behavior."""
    from horus_spark.fixtures.generator import corpus_spark
    from horus_spark.pipeline import run_extraction

    c = corpus_spark(spark, 30, partitions=4)
    reg = bootstrap_registry(spark)
    out1 = run_extraction(c["documents"], c["ocr_words"], registry=reg).select(
        "doc_id", "account", "model_id", "model_version"
    )
    rows1 = {r.doc_id: r for r in out1.collect()}
    assert all(r.model_version == "1" for r in rows1.values())
    abc_with_account = [
        d for d, r in rows1.items() if d.startswith("abc-") and r.account
    ]
    assert abc_with_account, "need abc docs with extracted accounts"

    broken = dict(FORMAT_CONFIGS["abc"], account_prefix="zz-never-matches: ")
    reg2 = register_model(reg, "abc", "model-abc-0002", broken)
    out2 = run_extraction(c["documents"], c["ocr_words"], registry=reg2).select(
        "doc_id", "account", "model_id", "model_version"
    )
    rows2 = {r.doc_id: r for r in out2.collect()}
    for d, r in rows2.items():
        if d.startswith("abc-"):
            assert r.model_version == "2" and r.model_id == "model-abc-0002"
            assert r.account is None  # broken v2 anchor took effect
        else:
            assert r.model_version == "1"
            assert rows1[d].account == r.account


def test_run_extraction_reads_the_registry_once(spark, monkeypatch):
    """run_extraction evaluates the registry once, on the driver: one
    latest_models, and its optimized plan joins only the documents to the
    kernel output — no join on the doc_id's format prefix, no registry
    window. The stamps are each format's latest model, NULL for a format
    with no registry row."""
    import re

    from horus_spark import registry as R
    from horus_spark import schema as S
    from horus_spark.fixtures.generator import corpus_pandas
    from horus_spark.pipeline import run_extraction

    calls = []
    real = R.latest_models
    monkeypatch.setattr(R, "latest_models", lambda reg: calls.append(reg) or real(reg))
    c = corpus_pandas(9)
    docs = spark.createDataFrame(c["documents"], S.DOCUMENTS)
    words = spark.createDataFrame(c["ocr_words"], S.OCR_WORDS)
    reg = bootstrap_registry(spark).where(F.col("document_format") != "nouryon")
    reg = register_model(reg, "abc", "model-abc-0002", FORMAT_CONFIGS["abc"])
    out = run_extraction(docs, words, registry=reg)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    rows = out.select("doc_id", "model_id", "model_version").collect()
    assert len(calls) == 1
    assert len(re.findall(r"\bJoin\b", plan)) == 1, plan
    assert "Window" not in plan, plan
    want = {"abc": ("model-abc-0002", "2"), "oscorp": ("model-oscorp-0001", "1"),
            "nouryon": (None, None)}
    assert {r.doc_id.split("-")[0] for r in rows} == set(want)
    for r in rows:
        assert (r.model_id, r.model_version) == want[r.doc_id.split("-")[0]], r


FULL_FIELDS = {
    "Inv": "30001",
    "TaxDate": "22/07/2020",
    "AccountNo": "OXOUHJ",
    "PostCode": "25150 WV",
    "Total": "12085.99",
    "VAT": "1000.45",
    "Shipping": "1812.90",
    "TotalIncVAT": "14899.34",
    "Drug01": "CFGC-99459 Flerovium (Fl) 289",
    "Qty01": "75",
    "Unit01": "2.491",
    "Disc01": "0.0",
    "Taxable01": "x",
    "Net01": "186.82",
}


def _shred_one(spark, fields, engine):
    # the recognize kernel's own fields -> raw bridge builds the input
    header, lines = raw_arrays([fields])
    df = spark.createDataFrame(
        pa.table({"doc_id": ["abc-INVOICE-1.pdf"], "header_raw": header, "lines_raw": lines})
    )
    return shred_fast(df, engine=engine).collect()[0]


def test_sample_customer_engine_field_set(spark):
    """SampleCustomer reads no Shipping/Disc/Taxable: values fall back to
    C# defaults and those channels emit NO error rows
    (SampleCustomerProcessingEngine.cs:27-79)."""
    # remove the optional fields so the horus engine WOULD error on them
    fields = {
        k: v
        for k, v in FULL_FIELDS.items()
        if k not in ("Shipping", "Disc01", "Taxable01")
    }
    horus = _shred_one(spark, fields, "horus")
    sample = _shred_one(spark, fields, "samplecustomer")

    horus_codes = [e.code for e in horus.errors]
    sample_codes = [e.code for e in sample.errors]
    # both engines: missing OrderNO -> PRE0001, OrderDate -> PRE0006,
    # Vat01 -> PRE0001; horus ADDITIONALLY errors on the three channels the
    # sample engine never reads: Shipping -> PRE0002 (header position),
    # Disc01 -> PRE0002, Taxable01 -> PRE0001 (after Vat01)
    assert sample_codes == ["PRE0001", "PRE0006", "PRE0001"]
    assert horus_codes == [
        "PRE0001", "PRE0006", "PRE0002", "PRE0001", "PRE0002", "PRE0001",
    ]
    assert sample.shipping_total == 0.0
    li_h, li_s = horus.line_items[0], sample.line_items[0]
    assert li_s.discount_percent == 0.0
    assert li_s.taxable_indicator is None
    # shared channels identical across engines
    assert li_h.item_description == li_s.item_description
    assert li_h.net_amount == li_s.net_amount
    assert horus.grand_total == sample.grand_total
    # same output schema either way (engine-agnostic sinks)
    assert horus.asDict().keys() == sample.asDict().keys()


def test_disc_zero_still_warns_on_horus_only(spark):
    """Disc01='0.0' parses to zero -> PRE0004 on horus; samplecustomer
    never reads Disc at all."""
    horus = _shred_one(spark, FULL_FIELDS, "horus")
    sample = _shred_one(spark, FULL_FIELDS, get_engine("samplecustomer"))
    # shared: OrderNO/OrderDate/Vat01 missing on both engines
    assert [e.code for e in horus.errors] == [
        "PRE0001", "PRE0006", "PRE0001", "PRE0004",
    ]
    assert [e.code for e in sample.errors] == ["PRE0001", "PRE0006", "PRE0001"]


def test_unknown_engine_raises():
    with pytest.raises(ValueError, match="does not exist"):
        get_engine("nope")


def test_registered_config_json_roundtrip(spark):
    reg = bootstrap_registry(spark)
    cfgs = {r.document_format: json.loads(r.config) for r in reg.collect()}
    assert cfgs == {k: v for k, v in FORMAT_CONFIGS.items()}


def test_register_model_migrates_old_schema(spark):
    # registries persisted before the training-metadata columns existed
    # must round-trip: missing columns become typed NULLs, registration
    # keeps the new metadata instead of silently projecting it away
    import json as _json

    from horus_spark.registry import latest_models, migrate_registry, register_model

    old = spark.createDataFrame(
        [("fmt-a", "model-a-0001", 1, _json.dumps({"x": 1}))],
        "document_format string, model_id string, model_version int, config string",
    )
    out = register_model(
        old, "fmt-a", "model-a-0002", {"x": 2}, accuracy=0.87, n_training_docs=12
    )
    assert "average_model_accuracy" in out.columns
    rows = {r["model_id"]: r for r in out.collect()}
    assert rows["model-a-0001"]["average_model_accuracy"] is None
    assert rows["model-a-0002"]["average_model_accuracy"] == 0.87
    assert rows["model-a-0002"]["n_training_docs"] == 12
    assert rows["model-a-0002"]["model_version"] == 2
    [latest] = latest_models(out).filter(F.col("document_format") == "fmt-a").collect()
    assert latest["model_id"] == "model-a-0002"
    # idempotent on an already-current frame
    assert migrate_registry(out).columns == out.columns

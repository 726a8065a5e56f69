"""Differential fuzz: the independent Python mini-shredder
(fixtures/oracle_shred.py — the q19 golden oracle) and the production
shredder input path (the kernel's raw_arrays bridge, then shred_fast)
must agree on randomized field maps, including shapes the generator never
produces: missing header keys, line holes (prefix termination), garbage
numbers, commas/spaces, zero values, quote sanitization. Error rows are
compared as (code, severity) sequences, so their emission order is checked
too."""

import pyarrow as pa

from horus_spark.fixtures.oracle_shred import expected_shred
from horus_spark.fixtures.shred_pin import fuzz_cases
from horus_spark.operators.shred import raw_arrays, shred_fast


def test_differential_fuzz_python_oracle_vs_spark(spark):
    cases = fuzz_cases()  # 300 seeded maps (fixtures/shred_pin.random_fields)
    # the recognize kernel's own fields -> raw bridge builds the input
    header, lines = raw_arrays([f for _, f in cases])
    df = spark.createDataFrame(
        pa.table({"doc_id": [d for d, _ in cases], "header_raw": header, "lines_raw": lines})
    )
    got = {r.doc_id: r for r in shred_fast(df).collect()}
    n_checked = 0
    for doc_id, fields in cases:
        exp = expected_shred(fields)
        r = got[doc_id]
        ctx = (doc_id, fields)
        assert len(r.line_items) == exp["n_lines"], ctx
        assert [(e.code, e.severity) for e in r.errors] == exp["errors"], ctx
        assert r.is_valid == exp["is_valid"], ctx
        assert r.document_number == exp["document_number"], ctx
        assert r.account == exp["account"], ctx
        assert r.post_code == exp["post_code"], ctx
        assert r.tax_period == exp["tax_period"], ctx
        assert round(r.net_total, 2) == exp["net_total"], ctx
        assert round(r.grand_total, 2) == exp["grand_total"], ctx
        n_checked += 1
    assert n_checked == 300

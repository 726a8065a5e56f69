"""The shredder reproduces its pinned output exactly.

tests/fixtures/shred_pin.json.gz holds every SHREDDED_DOCUMENT column but
the run stamps, for both engines, over the 300 fuzz maps of
test_shred_fuzz and an edge-case list (fixtures/shred_pin.py); floats are
compared bit for bit and messages character for character. The fixture
was written by tools/make_shred_pin.py from the JVM expression shredder
that the Arrow shredder replaced."""

import gzip
import json
from pathlib import Path

import pyarrow as pa
import pytest

from horus_spark.fixtures.shred_pin import canon, pin_cases
from horus_spark.operators.shred import raw_arrays, shred_fast

FIXTURE = Path(__file__).parent / "fixtures" / "shred_pin.json.gz"


def _shred(spark, cases, engine):
    header, lines = raw_arrays([f for _, f in cases])
    df = spark.createDataFrame(
        pa.table({"doc_id": [d for d, _ in cases], "header_raw": header, "lines_raw": lines})
    )
    return {r.doc_id: r for r in shred_fast(df, engine=engine).collect()}


@pytest.mark.parametrize("engine", ["horus", "samplecustomer"])
def test_shred_reproduces_pinned_output(spark, engine):
    pinned = json.loads(gzip.decompress(FIXTURE.read_bytes()))[engine]
    cases = pin_cases()
    assert sorted(pinned) == sorted(d for d, _ in cases)
    got = _shred(spark, cases, engine)
    mismatched = [d for d, _ in cases if canon(got[d]) != pinned[d]]
    assert not mismatched, (mismatched[:5], canon(got[mismatched[0]]), pinned[mismatched[0]])


@pytest.mark.parametrize("text", ["12\u0085", "12\u2028", "12\u2029"])
def test_unicode_line_terminator_number_is_unparseable(spark, text):
    """Java's `$` also matches before U+0085/U+2028/U+2029, but its number
    parse does not trim them: the JVM shredder's ANSI cast failed the
    whole job on such a text. It is an unparseable number (PRE0005)."""
    (r,) = _shred(spark, [("d", {"Total": text, "Net01": text})], "horus").values()
    assert r.net_total == 0.0 and r.line_items[0].net_amount == 0.0
    codes = [(e.code, e.severity, e.message) for e in r.errors if e.code == "PRE0005"]
    assert codes == [
        ("PRE0005", "Warning", f"GetNumber() Total exists but cannot be parsed as a number={text}"),
        ("PRE0005", "Terminal", f"GetNumber() Net01 exists but cannot be parsed as a number={text}"),
    ]

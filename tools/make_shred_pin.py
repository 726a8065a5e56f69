"""Write the shredder's pinned-output fixture.

Shreds every `horus_spark.fixtures.shred_pin.pin_cases()` field map with
both engines through the public input path (`operators.shred.raw_arrays`
-> `shred_fast`) and writes the canonical rows, keyed by engine then
doc_id, to tests/fixtures/shred_pin.json.gz. tests/test_shred_pin.py
asserts that the current shredder reproduces the file exactly.

Regenerate only after an intended change of shredding semantics, never to
hide a mismatch:

    python tools/make_shred_pin.py [OUT]
"""

from __future__ import annotations

import gzip
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

DEFAULT_OUT = ROOT / "tests" / "fixtures" / "shred_pin.json.gz"
ENGINES = ("horus", "samplecustomer")


def shred_rows(spark, engine: str) -> dict:
    import pyarrow as pa

    from horus_spark.fixtures.shred_pin import canon, pin_cases
    from horus_spark.operators.shred import raw_arrays, shred_fast

    cases = pin_cases()
    header, lines = raw_arrays([f for _, f in cases])
    df = spark.createDataFrame(
        pa.table({"doc_id": [d for d, _ in cases], "header_raw": header, "lines_raw": lines})
    )
    return {r.doc_id: canon(r) for r in shred_fast(df, engine=engine).collect()}


def main(out: Path = DEFAULT_OUT) -> None:
    from horus_spark.session import get_spark

    spark = get_spark(master="local[2]", shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pinned = {e: shred_rows(spark, e) for e in ENGINES}
    finally:
        spark.stop()
    out.parent.mkdir(parents=True, exist_ok=True)
    data = json.dumps(pinned, sort_keys=True, ensure_ascii=False).encode()
    # mtime=0: the same rows always give the same bytes
    with gzip.GzipFile(out, "wb", mtime=0) as f:
        f.write(data)
    print(f"{out}: {sum(map(len, pinned.values()))} rows, {out.stat().st_size} bytes")


if __name__ == "__main__":
    main(Path(sys.argv[1]) if len(sys.argv) > 1 else DEFAULT_OUT)

"""End-to-end: the page generator against the program's synthesizer, and a
tiny-corpus run of every workload, untraced and traced."""

import json
import os
import subprocess
import sys

import pytest

from perfbench.tests.conftest import ROOT

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    BENCH = json.load(fh)


def _run(tmp_path, workload, trace):
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--docs", "60",
           "--work-dir", str(tmp_path)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stdout
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_smoke(tmp_path, workload):
    res = _run(tmp_path, workload, 0)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 60
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["span_match_rate"]["value"] == 1.0
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_reports_every_layer(tmp_path):
    res = _run(tmp_path, "skewed", 1)
    assert res["correct"]
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["metrics"]["sink.snapshots"]["value"] == 2
    assert res["metrics"]["html.pages"]["value"] == 60
    traces = os.listdir(os.path.join(tmp_path, "traces"))
    assert len(traces) == 1


def test_pages_equal_the_programs_synthesizer(tmp_path):
    import pyarrow.parquet as pq

    from horus_spark.operators.html import synthesize_html
    from perfbench.corpus import materialize, web_text
    from perfbench.sparkenv import machine, prepare_env, spark_conf, start_session, stop_session

    work = str(tmp_path)
    facts = machine()
    prepare_env(ROOT, work)
    corpus = materialize(ROOT, work, "web", 3, 40, 2)
    docs = pq.read_table(corpus.table("documents")).to_pylist()
    # doc ids end in INVOICE-<number>.pdf; pages are numbered by it
    rows = [(d["doc_id"].rsplit("-", 1)[1].split(".")[0], web_text(d["spans"])) for d in docs]
    pages = pq.read_table(corpus.table("pages")).to_pylist()
    got = {r["doc_id"]: r["html"] for r in pages}
    spark = start_session(2, spark_conf(work, facts))
    try:
        text = spark.createDataFrame(rows, "doc_id string, text string")
        want = {r["doc_id"]: r["html"] for r in synthesize_html(text, media=True).collect()}
    finally:
        stop_session(spark)
    assert len(got) == 40
    assert got == want

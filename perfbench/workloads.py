"""The workloads: one timed job each, plus an output check.

Set-up builds each workload's plan once with the program's public API; a
job executes it. Jobs run with Spark's ``noop`` sink, which computes every
output column and writes nothing (``count()`` would let Spark prune the
shredded and classified columns away). The check is two steps: a job that
collects the output spans (the cold first job of set-up), and a pure
Python comparison against the reference, outside every timing.
"""

from __future__ import annotations

import time

from perfbench.check import Tally, span_tuples
from perfbench.corpus import Corpus


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    corpus_kind = ""
    default_docs = 0
    spans_col = ""  # the output column holding each document's spans
    has_status = False  # whether the output has recognizer_status

    def __init__(self, spark, corpus: Corpus):
        self.spark = spark
        self.corpus = corpus
        self.plan = None

    @property
    def n_docs(self) -> int:
        return self.corpus.n_docs

    def prepare(self, tracer) -> None:
        """Read the inputs and build the job's plan (part of set-up)."""
        self.documents = self.spark.read.parquet(self.corpus.table("documents"))
        self.words = self.spark.read.parquet(self.corpus.table("ocr_words"))
        self.plan = self.build(tracer)

    def build(self, tracer):
        raise NotImplementedError

    def job(self, tracer) -> float:
        """Execute the plan once; returns its wall time in seconds."""
        t0 = time.perf_counter()
        with tracer.span("spark.execute"):
            execute(self.plan)
        return time.perf_counter() - t0

    def collect(self) -> list[tuple]:
        """Run the plan once, collecting (doc_id, recognizer_status or
        None, span tuples) per output row."""
        cols = ["doc_id", self.spans_col] + (["recognizer_status"] if self.has_status else [])
        t = self.plan.select(*cols).toArrow()
        ids = t.column("doc_id").to_pylist()
        spans = t.column(self.spans_col).to_pylist()
        status = t.column("recognizer_status").to_pylist() if self.has_status else [None] * len(ids)
        return [(d, st, span_tuples(sp)) for d, st, sp in zip(ids, status, spans)]

    def check(self, tally: Tally, rows: list[tuple]) -> list[str]:
        """Account collected rows against the reference. Returns the
        mismatched doc ids. The inflated documents of ``skewed`` carry
        replicated lines, so their extracted fields (and with them the
        media span classes) legitimately differ from the generator's
        reference: they are checked for presence and status only."""
        return tally.check(rows, self.corpus.reference(), self.corpus.heavy_ids)


class Forms(Workload):
    name = "forms"
    corpus_kind = "forms"
    default_docs = 1500
    spans_col = "spans_out"
    has_status = True

    def build(self, tracer):
        from horus_spark.pipeline import run_extraction

        with tracer.span("pipeline.run_extraction"):
            return run_extraction(self.documents, self.words)


class Skewed(Forms):
    name = "skewed"
    corpus_kind = "skewed"


class Web(Workload):
    name = "web"
    corpus_kind = "web"
    default_docs = 3000
    spans_col = "spans"

    def build(self, tracer):
        from horus_spark.operators.html import html_to_spans

        pages = self.spark.read.parquet(self.corpus.table("pages"))
        with tracer.span("operators.html.html_to_spans"):
            return html_to_spans(pages)


WORKLOADS = {w.name: w for w in (Forms, Web, Skewed)}

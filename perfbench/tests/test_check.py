"""The span check and the failure accounting."""

import pytest

from horus_spark.fixtures.generator import generate_batch

from perfbench.check import Tally, is_injected_crash, span_tuples
from perfbench.corpus import web_expected_spans
from perfbench.layers import crash_and_resume
from perfbench.trace import NullTracer


def _reference(n=3):
    docs = generate_batch(range(30001, 30001 + n), seed=7)
    return {d["doc_id"]: span_tuples(d["expected_spans"]) for d in docs}


def _rows(ref, status="succeeded"):
    return [(doc_id, status, spans) for doc_id, spans in ref.items()]


def test_exact_output_matches():
    ref = _reference()
    t = Tally()
    assert t.check(_rows(ref), ref) == []
    assert (t.checked, t.matched, t.failed, t.attempted) == (3, 3, 0, 3)
    assert t.span_match_rate == 1.0 and t.fail_rate == 0.0 and t.correct


def test_swapped_span_and_emptied_media_ref_fire():
    ref = _reference()
    ids = list(ref)
    rows = dict(ref)
    swapped = list(rows[ids[0]])
    swapped[0], swapped[1] = swapped[1], swapped[0]
    rows[ids[0]] = tuple(swapped)
    media_at = next(i for i, s in enumerate(rows[ids[1]]) if s[2])
    emptied = list(rows[ids[1]])
    kind, text, _ref, off = emptied[media_at]
    emptied[media_at] = (kind, text, "", off)
    rows[ids[1]] = tuple(emptied)
    t = Tally()
    bad = t.check([(d, "succeeded", s) for d, s in rows.items()], ref)
    assert sorted(bad) == sorted(ids[:2])
    assert t.matched == 1 and t.checked == 3
    assert t.span_match_rate == 1 / 3
    assert t.failed == 0  # a wrong span is a mismatch, not a failure
    assert not t.correct


def test_offsets_are_part_of_the_sequence():
    ref = {"1": web_expected_spans("1", " ".join(f"w{i}" for i in range(40)))}
    ref = {k: span_tuples(v) for k, v in ref.items()}
    shifted = tuple((k, tx, m, o + 1) for k, tx, m, o in ref["1"])
    t = Tally()
    assert t.check([("1", None, shifted)], ref) == ["1"]


def test_missing_failed_duplicate_and_extra_documents():
    ref = _reference(4)
    ids = list(ref)
    rows = [
        (ids[0], "succeeded", ref[ids[0]]),
        (ids[1], "failed", ref[ids[1]]),  # failed status counts as a failure
        (ids[2], "succeeded", ref[ids[2]]),
        (ids[2], "succeeded", ref[ids[2]]),  # duplicated output row
        ("stranger", "succeeded", ()),  # not in the reference
    ]  # ids[3] missing
    t = Tally()
    bad = t.check(rows, ref)
    assert sorted(bad) == sorted([ids[2], ids[3]])
    assert t.failed == 2 and t.attempted == 4
    assert t.fail_rate == 0.5
    assert t.extra == 1 and not t.correct


def test_spans_exempt_documents_checked_for_presence_and_status_only():
    ref = _reference(3)
    ids = list(ref)
    rows = [(ids[0], "succeeded", ()), (ids[1], "succeeded", ref[ids[1]])]  # ids[2] missing
    t = Tally()
    t.check(rows, ref, spans_exempt={ids[0], ids[2]})
    assert t.checked == 1 and t.matched == 1
    assert t.failed == 1  # the missing exempt document still fails
    assert t.attempted == 3


def test_raised_jobs_fail_all_their_documents():
    t = Tally()
    t.job(100)
    t.job(100, raised=True)
    assert t.attempted == 200 and t.failed == 100
    assert t.fail_rate == 0.5


def test_injected_crash_is_recognized():
    assert is_injected_crash(RuntimeError("injected failure after chunk 0"))
    assert not is_injected_crash(RuntimeError("disk full"))
    assert not is_injected_crash(ValueError("injected failure after chunk 0"))


class _FakeRun:
    """Stands in for run_checkpointed over 4 chunks."""

    def __init__(self, crash_exc):
        self.crash_exc = crash_exc
        self.calls = []

    def __call__(self, fail_after_chunk=None):
        self.calls.append(fail_after_chunk)
        if fail_after_chunk is not None:
            if self.crash_exc is not None:
                raise self.crash_exc
            return {"completed": [0, 1, 2, 3], "skipped": []}
        return {"completed": [2, 3], "skipped": [0, 1]}


def test_injected_crash_is_not_a_failure():
    run = _FakeRun(RuntimeError("injected failure after chunk 1"))
    crash_s, resume_s = crash_and_resume(run, 2, NullTracer())
    assert run.calls == [2, None]
    assert crash_s >= 0 and resume_s >= 0


def test_other_crashes_and_missing_crash_raise():
    with pytest.raises(OSError):
        crash_and_resume(_FakeRun(OSError("disk full")), 2, NullTracer())
    with pytest.raises(RuntimeError, match="ignored the injected crash"):
        crash_and_resume(_FakeRun(None), 2, NullTracer())

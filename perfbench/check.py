"""Output checking and failure accounting.

A document's output is correct when its span sequence equals the
reference exactly: same length, and every span's (kind, text, media_ref,
offset) equal, in order.

Accounting, per run:
- ``attempted``: documents submitted, summed over every job of the run
  (timed jobs and check passes).
- ``failed``: documents of a job that raised, plus documents a check pass
  found missing or with ``recognizer_status = 'failed'``. A crash injected
  on purpose (``run_checkpointed(fail_after_chunk=...)``) is not a failure.
- ``checked`` / ``matched``: documents a check pass compared spans for,
  and those equal to the reference. ``span_match_rate = matched / checked``.
"""

from __future__ import annotations

from dataclasses import dataclass

INJECTED_PREFIX = "injected failure"


def span_tuples(spans) -> tuple:
    """Normalize a span list (dicts or Rows) to comparable tuples."""
    return tuple(
        (s["kind"], s["text"], s["media_ref"], int(s["offset"])) for s in (spans or ())
    )


def is_injected_crash(exc: BaseException) -> bool:
    """True for the crash ``run_checkpointed(fail_after_chunk=...)`` raises."""
    return isinstance(exc, RuntimeError) and str(exc).startswith(INJECTED_PREFIX)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    checked: int = 0
    matched: int = 0
    extra: int = 0  # output documents the reference does not know

    def job(self, n_docs: int, raised: bool = False) -> None:
        """Account one job over ``n_docs`` documents."""
        self.attempted += n_docs
        if raised:
            self.failed += n_docs

    def check(
        self,
        rows: list[tuple[str, str | None, tuple]],
        reference: dict[str, tuple],
        spans_exempt: frozenset | set = frozenset(),
    ) -> list[str]:
        """Account one check pass over every reference document.

        ``rows`` are (doc_id, recognizer_status or None, span tuples).
        Documents in ``spans_exempt`` are checked for presence and status
        only. Returns the doc ids whose spans mismatched (for reporting)."""
        self.attempted += len(reference)
        seen: dict[str, int] = {}
        out: dict[str, tuple] = {}
        for doc_id, status, spans in rows:
            seen[doc_id] = seen.get(doc_id, 0) + 1
            out[doc_id] = (status, spans)
        bad = []
        for doc_id, want in reference.items():
            got = out.get(doc_id)
            if got is None or got[0] == "failed":
                self.failed += 1
            if doc_id in spans_exempt:
                continue
            self.checked += 1
            if got is not None and seen[doc_id] == 1 and got[1] == want:
                self.matched += 1
            else:
                bad.append(doc_id)
        self.extra += sum(1 for d in out if d not in reference)
        return bad

    @property
    def span_match_rate(self) -> float:
        return ratio(self.matched, self.checked)

    @property
    def fail_rate(self) -> float:
        return ratio(self.failed, self.attempted)

    @property
    def correct(self) -> bool:
        return (
            self.checked > 0
            and self.matched == self.checked
            and self.failed == 0
            and self.extra == 0
        )


def ratio(num: float, base: float) -> float:
    """num / base; a ratio over an empty base is undefined, so it raises."""
    if base <= 0:
        raise ValueError(f"ratio {num}/{base}: empty base")
    return num / base

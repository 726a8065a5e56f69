"""Every tracked .py file outside perfbench/ compiles with invalid-escape
warnings turned into errors. An invalid escape such as '\\s' in a non-raw
string warns on every import today (a SyntaxWarning from Python 3.12) and
is meant to become a SyntaxError. No Spark session."""

import subprocess
import warnings
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _tracked_sources() -> list[Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "-z", "*.py"], cwd=ROOT, capture_output=True, check=True
        ).stdout.decode()
        paths = [ROOT / p for p in out.split("\0") if p]
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        paths = [
            p
            for p in ROOT.rglob("*.py")
            if not any(s.startswith(".") for s in p.relative_to(ROOT).parts)
        ]
    return sorted(p for p in paths if p.relative_to(ROOT).parts[0] != "perfbench" and p.exists())


def test_sources_compile_without_invalid_escapes():
    sources = _tracked_sources()
    assert any(p.name == "__spark_entry__.py" for p in sources)
    failed = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error", DeprecationWarning)
            warnings.simplefilter("error", SyntaxWarning)
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except SyntaxError as exc:
                failed.append(f"{path.relative_to(ROOT)}:{exc.lineno}: {exc.msg}")
    assert not failed, failed

"""Teardown leaves no process behind: orphaned grandchildren are reparented
to the benchmark and reaped, and the corpus pool's resource tracker ends."""

import os
import subprocess
import sys
import textwrap

from perfbench.tests.conftest import ROOT

_SCRIPT = textwrap.dedent(
    """
    import os, subprocess, sys, time
    sys.path.insert(0, sys.argv[1])
    from perfbench.sparkenv import _children_map, become_subreaper, reap_children
    assert become_subreaper()
    # a child that exits at once, leaving a running grandchild (an orphan)
    subprocess.run(["sh", "-c", "sleep 60 & exit 0"], check=True)
    time.sleep(0.2)
    before = len(_children_map().get(os.getpid(), []))
    reap_children(grace_s=2.0)
    after = len(_children_map().get(os.getpid(), []))
    print(before, after)
    """
)


def test_orphans_are_reaped():
    out = subprocess.run([sys.executable, "-c", _SCRIPT, ROOT], stdout=subprocess.PIPE,
                         text=True, timeout=60, check=True).stdout.split()
    assert out == ["1", "0"]


def test_corpus_generation_stops_resource_tracker(tmp_path):
    script = textwrap.dedent(
        """
        import os, sys
        sys.path.insert(0, sys.argv[1])
        from multiprocessing import resource_tracker
        from perfbench.corpus import materialize
        from perfbench.sparkenv import _children_map
        materialize(sys.argv[1], sys.argv[2], "forms", 5, 8, 1)
        print(resource_tracker._resource_tracker._pid, len(_children_map().get(os.getpid(), [])))
        """
    )
    out = subprocess.run([sys.executable, "-c", script, ROOT, str(tmp_path)], stdout=subprocess.PIPE,
                         text=True, timeout=120, check=True).stdout.split()
    assert out == ["None", "0"]

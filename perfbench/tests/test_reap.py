"""A run ends and waits for every process it started, orphans too."""

import os
import subprocess
import sys
import textwrap

from conftest import BENCH


def test_reap_ends_children_and_orphans():
    # in a process of its own: reap() ends every descendant of the caller
    script = textwrap.dedent("""
        import os, subprocess, sys, time
        import reap

        reap.become_subreaper()
        child = subprocess.Popen(["sleep", "60"])
        # the shell exits at once, so its sleep is orphaned
        subprocess.run(["sh", "-c", "sleep 60 &"], check=True)
        time.sleep(0.2)
        found = reap.descendants(os.getpid())
        t0 = time.monotonic()
        reap.reap(grace_s=5.0)
        print(len(found), child.pid in found,
              len(reap.descendants(os.getpid())),
              round(time.monotonic() - t0, 1))
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=BENCH,
                         env={**os.environ, "PYTHONPATH": BENCH},
                         capture_output=True, text=True, check=True, timeout=60)
    found, has_child, left, took = out.stdout.split()
    assert (found, has_child, left) == ("2", "True", "0")
    assert float(took) < 5.0  # SIGTERM sufficed

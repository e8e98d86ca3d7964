"""The memory sampler's process filter: a child of a direct child that
has not exec'd is skipped; exec'd children and deeper forks count."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap
import time

from perfbench.procstat import engine_pids, resident_pids

# The direct child plays the JVM. Its forked child keeps the parent's
# executable, like a vfork child before exec; that child's own fork plays
# a Python worker forked by the PySpark daemon; a second child execs.
SCRIPT = textwrap.dedent(
    """
    import os, sys, time
    if os.fork() == 0:
        if os.fork() == 0:
            print("worker", os.getpid(), flush=True)
        else:
            print("unexeced", os.getpid(), flush=True)
        time.sleep(60)
        os._exit(0)
    pid = os.fork()
    if pid == 0:
        os.execvp("sleep", ["sleep", "60"])
    print("execed", pid, flush=True)
    time.sleep(60)
    """
)


def test_resident_pids_skips_only_unexeced_children_of_a_direct_child():
    proc = subprocess.Popen(
        [sys.executable, "-c", SCRIPT], stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    try:
        pids = dict(proc.stdout.readline().split() for _ in range(3))
        pids = {k: int(v) for k, v in pids.items()}
        parent_exe = os.readlink(f"/proc/{proc.pid}/exe")
        deadline = time.monotonic() + 10
        while os.readlink(f"/proc/{pids['execed']}/exe") == parent_exe:
            assert time.monotonic() < deadline, "the exec'd child never exec'd"
            time.sleep(0.05)
        everything = set(engine_pids())
        kept = set(resident_pids())
        assert {proc.pid, *pids.values()} <= everything
        assert pids["unexeced"] not in kept
        assert {proc.pid, pids["worker"], pids["execed"]} <= kept
    finally:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

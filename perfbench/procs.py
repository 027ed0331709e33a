"""Every process a run starts has ended before the run exits.

The run makes itself a child subreaper, so a process orphaned by its parent
(a Python worker of a JVM that has exited, multiprocessing's resource
tracker once its owner is gone) is re-parented to the run instead of to
init.  `stop_all` then ends and reaps every descendant still there.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time
from typing import Dict, List

PR_SET_CHILD_SUBREAPER = 36
GRACE_S = 1.0  # between SIGTERM and SIGKILL
POLL_S = 0.05


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def exit_on_sigterm() -> None:
    """Turn SIGTERM into SystemExit, so the run's cleanup still runs."""

    def handler(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, handler)


def descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue  # process ended while we looked
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _reap() -> None:
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all() -> None:
    """SIGTERM every descendant, SIGKILL those left after GRACE_S, and reap
    them; returns once none is left."""
    kill_at = time.monotonic() + GRACE_S
    while True:
        _reap()
        pids = descendants(os.getpid())
        if not pids:
            return
        sig = signal.SIGKILL if time.monotonic() >= kill_at else signal.SIGTERM
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(POLL_S)

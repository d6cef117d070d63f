"""Process-table helpers read from /proc: the members of a session, their
resident memory, and waiting until a session has gone quiet."""

from __future__ import annotations

import os
import time


def _stat(pid: int) -> tuple[str, int] | None:
    """-> (state, session id), or None if the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    fields = data[data.rindex(")") + 2 :].split()
    return fields[0], int(fields[3])


def session_members(sid: int) -> dict[int, str]:
    """pid -> state ('Z' for a zombie) of every process in session ``sid``."""
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None and st[1] == sid:
                out[int(name)] = st[0]
    return out


def pss_bytes(pids) -> int:
    """Summed proportional set size: pages shared between the forked
    pyspark.daemon workers are split between them, not counted per worker."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def wait_session_quiet(sid: int, exclude: set[int], timeout: float) -> bool:
    """Wait until no live process other than ``exclude`` remains in the
    session. Zombies are left for their parent to reap."""
    end = time.monotonic() + timeout
    while True:
        live = [p for p, s in session_members(sid).items() if s != "Z" and p not in exclude]
        if not live:
            return True
        if time.monotonic() >= end:
            return False
        time.sleep(0.1)

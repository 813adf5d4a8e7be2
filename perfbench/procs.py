"""The run's process tree, read from /proc: peak memory, and stopping the
Spark session with every process it started."""

from __future__ import annotations

import os
import signal
import time


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            fields = _stat(int(d))
            if fields:
                parent[int(d)] = int(fields[1])
    out, frontier = [], {pid}
    while frontier:
        kids = {c for c, p in parent.items() if p in frontier}
        out += kids
        frontier = kids
    return out


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident sets (VmHWM) of the given processes."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += sum(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except OSError:
            pass
    return kb / 1024


def stop_spark(spark, timeout_s: float = 60) -> None:
    """Stop the session, end the JVM and wait until every process it
    started (the Python worker daemon and workers) has exited."""
    kids = descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the JVM exits at EOF on its stdin
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        alive = kids
        while alive and time.monotonic() < deadline:
            alive = [p for p in kids if (_stat(p) or ["Z"])[0] != "Z"]
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        for p in kids:  # reap those that are our own children
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass

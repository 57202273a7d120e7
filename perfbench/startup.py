"""Set-up, timed the way a fresh service pays it: import the package and
return from ``session.get_spark()``.

``run.py`` times its own session start with :func:`timed_start` and, in
an untraced run, runs this file as a child process a few more times;
``setup_s`` is the median.  As a script it does one set-up, stops the
session, waits for its JVM to exit and writes the seconds to stdout:

    python3 perfbench/startup.py

It reads the Spark settings from the environment that ``run.py`` sets.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def timed_start(app_name: str):
    """(session, seconds from the package import to the ready session)."""
    sys.path.insert(0, ROOT)
    t0 = time.perf_counter()
    from time_series_db_spark import service  # noqa: F401
    from time_series_db_spark.session import get_spark

    spark = get_spark(app_name)
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session and wait until its driver JVM has exited (the
    gateway JVM exits when its stdin closes)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    # stdout carries only the result; the JVM's output goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)
    session, seconds = timed_start("perfbench-setup")
    stop(session)
    os.write(result_fd, f"{seconds!r}\n".encode())

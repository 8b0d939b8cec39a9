"""Seeded job inputs and the worker callables the queue workloads register.

The workers run in Spark's Python executor processes, so they are classes in
an importable module (the executor imports ``perfbench.jobs`` by name) and
keep their state in files under the run's work directory.

A job's args are ``[token, fail_once, payload]``.  A fail-once job raises on
its first attempt only: the first attempt drops a marker file named after the
token and raises, a later attempt sees the marker and succeeds.  A bulk call
raises when any member is a fail-once job on its first attempt, so the whole
chunk retries (the reference's all-or-nothing rule), and it appends the
tokens of the failed chunk to a log so the benchmark can work out the
``retry_count`` every job must end with.
"""

from __future__ import annotations

import hashlib
import os
import random

WORKER = "BenchWorker"
BULK_WORKER = "BenchBulkWorker"
PAYLOAD_CHARS = 380  # with the token and flag, ~0.4 kB of JSON args per job
INJECTED = "injected first-attempt failure"


def make_jobs(
    rng: random.Random, prefix: str, n: int, fail_rate: float, cls: str = WORKER
) -> list:
    """`n` jobs as ``(class, function, args)`` tuples for ``bulk_enqueue``."""
    jobs = []
    for i in range(n):
        payload = f"{rng.getrandbits(4 * PAYLOAD_CHARS):0{PAYLOAD_CHARS}x}"
        fail = rng.random() < fail_rate
        jobs.append((cls, "perform", [f"{prefix}{i}", fail, payload]))
    return jobs


def _first_attempt(marker_dir: str, token: str) -> bool:
    """True exactly once per token, across executor processes."""
    try:
        fd = os.open(os.path.join(marker_dir, token), os.O_CREAT | os.O_EXCL)
    except FileExistsError:
        return False
    os.close(fd)
    return True


def _work(payload: str) -> None:
    hashlib.sha1(payload.encode()).digest()


class SingleWorker:
    """One call per job."""

    def __init__(self, marker_dir: str):
        self.marker_dir = marker_dir

    def __call__(self, token: str, fail: bool, payload: str) -> None:
        _work(payload)
        if fail and _first_attempt(self.marker_dir, token):
            raise RuntimeError(INJECTED)


class BulkWorker:
    """One call per chunk; args arrive nested ``[[args...], ...]``."""

    def __init__(self, marker_dir: str, failed_log_dir: str):
        self.marker_dir = marker_dir
        self.failed_log_dir = failed_log_dir

    def __call__(self, chunk: list) -> None:
        failing = False
        for token, fail, payload in chunk:
            _work(payload)
            if fail and _first_attempt(self.marker_dir, token):
                failing = True
        if failing:
            line = " ".join(token for token, _, _ in chunk) + "\n"
            path = os.path.join(self.failed_log_dir, f"failed-{os.getpid()}.log")
            with open(path, "a") as f:
                f.write(line)
            raise RuntimeError(INJECTED)


def failed_chunks(failed_log_dir: str) -> dict[str, int]:
    """token -> number of failed bulk calls it was a member of."""
    counts: dict[str, int] = {}
    for name in os.listdir(failed_log_dir):
        with open(os.path.join(failed_log_dir, name)) as f:
            for line in f:
                for token in line.split():
                    counts[token] = counts.get(token, 0) + 1
    return counts

"""Speed of the host the benchmark runs on, measured between its runs.

The benchmark runs on virtual CPUs of a shared host whose speed drifts: a
fixed pure-Python loop takes anywhere from 1x to 2.5x its quiet-host time,
in stretches of minutes, with no steal time to show for it. The pipeline's
wall and CPU times drift with it, so raw times from invocations a few
minutes apart are not comparable.

After the session build and after every run, every CPU runs the same
fixed reference work in its own worker process, pinned to that CPU: regex
scanning, splitting and counting words, md5 and an integer loop, none of
it from the program under test. The invocation's ``factor`` is the median of these samples over
``REFERENCE_S``, the work's time on a quiet host, and the benchmark divides
its times by it. A time so scaled reads as it would on a host where the
reference work takes ``REFERENCE_S``: a change to the program moves it one
for one, while most of the host's drift cancels. (Scaling each run by the
samples on either side of it instead adds more sample noise than it
removes: the drift that matters is slow.)
"""

from __future__ import annotations

import hashlib
import os
import re
import statistics
import subprocess
import sys
import time

# Repetitions of the reference work in one sample, and their time on a quiet
# host (4-vCPU Xeon VM at 2.1 GHz): a sample costs ~0.14 s of every CPU.
REPS = 450
REFERENCE_S = 0.135

_TEXT = (
    "Contact jane.doe@example.com or call 555-123-4567; the quick brown fox "
    "jumps over the lazy dog near 10.0.0.1 on 2024-01-02. "
) * 8
_RX = re.compile(r"[\w.]+@[\w.]+|\d{3}-\d{3}-\d{4}|\b\d+\.\d+\.\d+\.\d+\b")


def reference_work(reps: int) -> float:
    """Seconds taken by ``reps`` rounds of the fixed reference work."""
    t0 = time.perf_counter()
    acc = 0
    for _ in range(reps):
        acc += len(_RX.findall(_TEXT))
        words = _TEXT.lower().split()
        counts: dict[str, int] = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 1
        acc += sum(len(w) for w in words) + len(counts)
        acc += int(hashlib.md5(_TEXT.encode()).hexdigest()[:4], 16)
        for j in range(2000):
            acc += j * j % 7
    return time.perf_counter() - t0


def _worker() -> None:
    """Worker process: pinned to the CPU named in argv; for each line of
    repetitions on stdin, prints the seconds they took."""
    os.sched_setaffinity(0, {int(sys.argv[1])})
    for line in sys.stdin:
        print(reference_work(int(line)), flush=True)


class HostSpeed:
    """One reference-work worker per CPU; ``sample`` runs them at once."""

    def __init__(self, root: str) -> None:
        env = dict(os.environ, PYTHONPATH=os.pathsep.join([root, os.environ.get("PYTHONPATH", "")]))
        cmd = [sys.executable, "-c", "from perfbench.hostspeed import _worker; _worker()"]
        self.workers = [
            subprocess.Popen(
                [*cmd, str(cpu)], stdin=subprocess.PIPE, stdout=subprocess.PIPE, env=env, text=True
            )
            for cpu in sorted(os.sched_getaffinity(0))
        ]
        self.samples: list[float] = []
        self.busy_s = 0.0  # wall time spent sampling
        self._run(REPS // 4)  # imports and first-call costs, not recorded

    def pids(self) -> set[str]:
        return {str(p.pid) for p in self.workers}

    def _run(self, reps: int) -> float:
        for p in self.workers:
            p.stdin.write(f"{reps}\n")
            p.stdin.flush()
        return statistics.fmean(float(p.stdout.readline()) for p in self.workers)

    def sample(self) -> None:
        """Time the reference work on every CPU at once; keep the mean."""
        t0 = time.perf_counter()
        self.samples.append(self._run(REPS))
        self.busy_s += time.perf_counter() - t0

    def factor(self) -> float:
        """Host slowness over the samples so far (1.0 on a quiet host)."""
        return statistics.median(self.samples) / REFERENCE_S

    def close(self) -> None:
        for p in self.workers:
            p.stdin.close()
        for p in self.workers:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()

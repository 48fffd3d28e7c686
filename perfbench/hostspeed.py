"""Host-speed probe: times a fixed CPU task while a run goes on.

The benchmark shares a host whose speed changes by up to 2x within
minutes, as other tenants load the same physical cores and memory. A
separate process runs the same pure-Python task every ``PERIOD_S``: a
40,000-step integer loop (5-7 ms of work on a 4-vCPU host, so about
6 % of one CPU), and appends its end time and duration to a file. It
touches neither the package nor Spark, and being its own process it
does not hold the driver's GIL. Where the kernel allows it, the process
runs under the real-time ``SCHED_FIFO`` policy, so that the loop never
waits behind the run's own threads (the JVM's task, JIT and GC threads
can fill every CPU) and reads only the speed the host gives the VM at
that moment.

A time ``t`` measured over an interval is reported at the reference
host speed as ``t * REFERENCE_S / m``, ``m`` being the median task time
over that interval: a change of the host's speed cancels, a change of
the program's does not. The raw times and ``m`` are kept in the traced
record.

    python3 perfbench/hostspeed.py <samples-file>   # the probe process
"""

from __future__ import annotations

import bisect
import os
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

# task time that the end-to-end seconds are expressed in: about the
# median during the warm passes on the 4-vCPU host the benchmark was
# tuned on
REFERENCE_S = 0.006
PERIOD_S = 0.1
_STEPS = 40_000


def _probe(out: str) -> None:
    try:  # sleeps 93 % of the time, so it cannot starve the run
        os.sched_setscheduler(0, os.SCHED_FIFO, os.sched_param(1))
    except (AttributeError, PermissionError):
        pass  # an ordinary process: the loop also counts waits for a CPU
    with open(out, "a", buffering=1) as fh:
        while True:
            t = time.perf_counter()
            x = 0
            for i in range(_STEPS):
                x = (x * 31 + i) & 0xFFFFFFFF
            end = time.perf_counter()  # CLOCK_MONOTONIC, shared with the driver
            fh.write(f"{end:.6f} {end - t:.6f}\n")
            time.sleep(PERIOD_S)


class HostProbe:
    """Runs the probe process for the life of a ``with`` block."""

    def __init__(self, out: str | Path) -> None:
        self.out = Path(out)
        self._proc: subprocess.Popen | None = None

    def __enter__(self) -> HostProbe:
        self.out.write_text("")
        self._proc = subprocess.Popen([sys.executable, __file__, str(self.out)])
        while not self.samples():  # every interval then has a sample near it
            if self._proc.poll() is not None:
                raise RuntimeError(f"host probe exited with {self._proc.returncode}")
            time.sleep(0.02)
        return self

    def __exit__(self, *exc) -> None:
        self._proc.send_signal(signal.SIGTERM)
        self._proc.wait()

    def samples(self) -> list[tuple[float, float]]:
        """(end, task seconds) of every finished task, in order."""
        out = []
        for line in self.out.read_text().splitlines():
            parts = line.split()
            if len(parts) == 2:  # not a line the probe is still writing
                out.append((float(parts[0]), float(parts[1])))
        return out

    def task_s(self, start: float, end: float) -> float:
        """Median task time of the tasks that ended in ``[start, end]``,
        or of the one that ended nearest to ``end`` if none did."""
        samples = self.samples()
        ends = [s[0] for s in samples]
        inside = [d for _, d in samples[bisect.bisect_left(ends, start):bisect.bisect_right(ends, end)]]
        if not inside:
            inside = [min(samples, key=lambda s: abs(s[0] - end))[1]]
        return statistics.median(inside)

    def scaled(self, seconds: float, start: float, end: float) -> float:
        """``seconds``, measured over ``[start, end]``, at the reference speed."""
        return seconds * REFERENCE_S / self.task_s(start, end)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: os._exit(0))
    _probe(sys.argv[1])

"""Core-speed probe: how fast the machine's cores run right now.

    python3 perfbench/probe.py OUT_PATH

Every 0.1 s the probe runs a fixed loop and appends
``<unix time> <CPU ms the loop took>`` to OUT_PATH. The loop's CPU time
(not its wall time, so waiting for a core does not count) rises when
other tenants of a shared host slow the cores — busy hyperthread
siblings, stolen time, lower clocks — and stays put otherwise.
``SpeedProbe`` runs it beside a benchmark run and scales the run's
times to a reference core speed. The probe ends by itself when its
parent does, or after MAX_S.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

# the probe loop's CPU time on an unloaded core of a 4-core cloud
# machine; a time scaled by REF_MS / (the loop's time) is the time the
# same work would have taken at that speed
REF_MS = 3.5
INTERVAL_S = 0.1
MAX_S = 600
# samples within this margin of an operation's window also count, so a
# short operation still gets a median over several
MARGIN_S = 2.0


def loop() -> int:
    x = 0
    for i in range(20_000):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return x


def main(path: str) -> None:
    parent, end = os.getppid(), time.time() + MAX_S
    with open(path, "a") as out:
        while time.time() < end and os.getppid() == parent:
            c = time.thread_time()
            loop()
            out.write(f"{time.time():.3f} {(time.thread_time() - c) * 1000:.4f}\n")
            out.flush()
            time.sleep(INTERVAL_S)


class SpeedProbe:
    """Runs the probe in its own process; ``scale`` turns a time measured
    over a wall-clock window into reference-speed seconds."""

    def __init__(self, work: str):
        self.path = os.path.join(work, "probe.txt")
        self.proc = subprocess.Popen([sys.executable, os.path.abspath(__file__), self.path])

    def samples(self, t0: float, t1: float) -> list[float]:
        with open(self.path) as f:
            rows = [line.split() for line in f]
        return [float(ms) for t, ms in (r for r in rows if len(r) == 2) if t0 - MARGIN_S <= float(t) <= t1 + MARGIN_S]

    def loop_ms(self, t0: float, t1: float) -> float:
        """Median CPU ms of the probe loop over [t0, t1] (unix time)."""
        got = self.samples(t0, t1)
        if len(got) < 5:
            raise RuntimeError(f"core-speed probe has {len(got)} samples in a {t1 - t0:.1f} s window")
        return statistics.median(got)

    def scale(self, seconds: float, t0: float, t1: float) -> float:
        return seconds * REF_MS / self.loop_ms(t0, t1)

    def stop(self) -> None:
        self.proc.terminate()
        self.proc.wait()


if __name__ == "__main__":
    main(sys.argv[1])

"""Host-speed probe.

A shared host's cores run at different speeds from one minute to the next,
as other tenants come and go; an engine pass can take twice as long in a
slow minute. The guest does not see this as stolen time: the same
instructions simply take more CPU time.

:class:`SpeedProbe` measures that speed while the engine runs. A thread of
``run.py`` (outside the engine's process group) times a fixed interpreter
loop every ``PERIOD_S``, in CPU time of its own thread, so that waiting
for a core the engine's threads hold does not count. :meth:`factor` turns the
samples inside a window into the factor that converts that window's wall
seconds into reference seconds: seconds on a host where the loop takes
``REF_LOOP_S``.
"""

from __future__ import annotations

import bisect
import statistics
import threading
import time

#: Iterations of one sample's loop.
LOOP_N = 100_000
#: CPU seconds the loop takes, as a median over benchmark runs, on a 4-core
#: KVM guest of a 2.1 GHz Xeon host: one reference second is a wall second
#: at that speed.
REF_LOOP_S = 0.0045
#: Time from one sample's start to the next (about 7 % of one core).
PERIOD_S = 0.05


def _loop(n: int) -> None:
    x = 0
    for _ in range(n):
        x += 1


class SpeedProbe(threading.Thread):
    """Samples ``(monotonic start, CPU seconds of the loop)`` until stopped."""

    def __init__(self) -> None:
        super().__init__(name="speed-probe", daemon=True)
        self.starts: list[float] = []
        self.cpu: list[float] = []
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            t0 = time.monotonic()
            c0 = time.thread_time()
            _loop(LOOP_N)
            self.cpu.append(time.thread_time() - c0)
            self.starts.append(t0)
            self._stop_event.wait(max(0.0, PERIOD_S - (time.monotonic() - t0)))

    def stop(self) -> None:
        self._stop_event.set()
        self.join()

    def factor(self, lo: float, hi: float) -> float:
        """Reference seconds per wall second over ``[lo, hi]`` (monotonic
        clock), from the mean loop time of the samples started in it."""
        i, j = bisect.bisect_left(self.starts, lo), bisect.bisect_right(self.starts, hi)
        if j <= i:
            raise ValueError(f"no speed samples between {lo} and {hi}")
        return REF_LOOP_S / statistics.fmean(self.cpu[i:j])

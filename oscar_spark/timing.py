"""Stage clock shared by the build (`BuildResult.stage_secs`) and serve
(`SearchEngine.last_stage_times`) — the analog of the reference's
per-stage benchmark columns (reference/oscar-cmd/Benchmark.cpp:159-214)."""

from __future__ import annotations

import time


class StageClock:
    """Wall seconds per named stage: calling the clock with a stage name
    charges that stage the time since the previous call (or since
    construction) and adds it to what the stage already holds.  `secs`
    keeps raw seconds in first-run order and sums to the time since
    construction; callers round when they publish."""

    __slots__ = ("t0", "_last", "secs")

    def __init__(self) -> None:
        self.t0 = self._last = time.time()
        self.secs: dict[str, float] = {}

    def __call__(self, name: str) -> None:
        now = time.time()
        self.secs[name] = self.secs.get(name, 0.0) + (now - self._last)
        self._last = now

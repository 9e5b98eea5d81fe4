"""Workloads and the closed loop that runs them.

One client sends one query at a time and waits for its result. A run is
``WARM_PASSES`` warm passes (their results are checked like every other,
their times are not used) followed by timed passes until ``seconds``
have elapsed, at least ``MIN_TIMED_PASSES`` of them. The seed fixes the
order of the queries within each pass. Between queries, outside the
timed region, the caller's ``reset`` clears caches and runs a JVM GC.

The warm-up is a fixed count, not "until pass times are steady": in a
fresh JVM the versioned commits still get faster for five or more
passes, and a run that waited for that would take minutes. ``pass_walls``
keeps every pass's time so the trend stays visible.

Everything here is plain Python over injected callables, so the
accounting can be tested without a JVM.
"""

from __future__ import annotations

import random
import statistics
import time
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

#: queries per workload, sized so that one run (set-up, two warm passes
#: and three timed passes) takes about a minute on a 4-core box. An odd
#: query count keeps the median over all samples inside one query's
#: samples instead of between two queries'. Layers: ``functions/dedup``
#: (minhash_lsh), ``functions/similarity`` (embedding_neardup),
#: ``operators/fuzzy`` (fuzzy_name_match), ``operators/versioned`` and
#: ``storage`` (merge_into).
WORKLOADS: dict[str, list[str]] = {
    "curation": ["minhash_lsh", "embedding_neardup", "fuzzy_name_match"],
    "lifecycle": ["merge_into"],
}

#: in a fresh JVM the first pass runs 2-3x slower than later ones and the
#: second is still ~1.3x slower for the versioned commits
WARM_PASSES = 2
MIN_TIMED_PASSES = 3


@dataclass
class Execution:
    name: str
    pass_no: int  # passes below WARM_PASSES are warm passes
    seconds: float
    ok: bool
    error: str | None = None


@dataclass
class LoopResult:
    executions: list[Execution] = field(default_factory=list)
    timed_passes: int = 0
    warm_s: float = 0.0
    timed_s: float = 0.0

    @property
    def attempted(self) -> int:
        return len(self.executions)

    @property
    def failed(self) -> int:
        return sum(not e.ok for e in self.executions)

    def samples(self) -> dict[str, list[float]]:
        """Timed durations of successful executions, per query."""
        out: dict[str, list[float]] = {}
        for e in self.executions:
            if e.pass_no >= WARM_PASSES and e.ok:
                out.setdefault(e.name, []).append(e.seconds)
        return out

    def pass_walls(self) -> list[float]:
        """Summed query time of every pass, warm passes first."""
        walls: dict[int, float] = {}
        for e in self.executions:
            walls[e.pass_no] = walls.get(e.pass_no, 0.0) + e.seconds
        return [walls[p] for p in sorted(walls)]

    def last_pass(self) -> tuple[int, dict[str, float]]:
        """Number and per-query times of the last timed pass."""
        last = WARM_PASSES + self.timed_passes - 1
        return last, {e.name: e.seconds for e in self.executions if e.pass_no == last}


def pass_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def execute(
    name: str,
    run: Callable[[], tuple[list[str], float]],
    expected: dict[str, list | None],
    pass_no: int,
) -> Execution:
    """Run one query. ``run`` returns (canonical rows, seconds). A query
    with no oracle (``expected[name] is None``) is checked against its
    own first result."""
    try:
        rows, seconds = run()
    except Exception:
        return Execution(name, pass_no, 0.0, False, traceback.format_exc(limit=5))
    if expected.get(name) is None:
        expected[name] = rows
    ok = rows == expected[name]
    return Execution(name, pass_no, seconds, ok, None if ok else "result differs")


def run_loop(
    names: list[str],
    run_query: Callable[[str], tuple[list[str], float]],
    reset: Callable[[], None],
    expected: dict[str, list | None],
    seed: int,
    seconds: float,
    clock: Callable[[], float] = time.perf_counter,
) -> LoopResult:
    result = LoopResult()

    def one_pass(pass_no: int) -> None:
        for name in pass_order(names, seed, pass_no):
            reset()
            result.executions.append(
                execute(name, lambda: run_query(name), expected, pass_no)
            )

    t0 = clock()
    for pass_no in range(WARM_PASSES):
        one_pass(pass_no)
    t1 = clock()
    while result.timed_passes < MIN_TIMED_PASSES or clock() - t1 < seconds:
        one_pass(WARM_PASSES + result.timed_passes)
        result.timed_passes += 1
    result.warm_s, result.timed_s = t1 - t0, clock() - t1
    return result


def end_to_end(result: LoopResult, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    samples = result.samples()
    every = [s for v in samples.values() for s in v]
    return {
        "wall_s": sum(statistics.median(v) for v in samples.values()),
        "query_p50_s": statistics.median(every) if every else 0.0,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "success_frac": 1.0 - result.failed / max(1, result.attempted),
    }

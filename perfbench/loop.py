"""The measuring loop shared by the workloads."""

from __future__ import annotations

import time
from typing import Callable, TypeVar

T = TypeVar("T")


def whole_rounds(seconds: float, one_round: Callable[[int], T]) -> list[T]:
    """Run ``one_round(i)`` once, then again while a round as long as the
    last one still ends within ``seconds`` of the start. Rounds are never
    cut short, so every run attempts the same operations per round."""
    start = time.perf_counter()
    out: list[T] = []
    while True:
        t0 = time.perf_counter()
        out.append(one_round(len(out)))
        now = time.perf_counter()
        if now + (now - t0) > start + seconds:
            return out

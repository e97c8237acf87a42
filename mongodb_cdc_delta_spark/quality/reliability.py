"""Sink-side reliability: retry with exponential backoff + circuit breaker.

Re-expresses reference delta-writer/src/utils/error_handler.py
(:25-151 retryable classification + capped exponential delay with jitter,
:153-342 retry decorator, :345-476 closed/open/half-open circuit breaker).
Spark already retries *tasks*; these wrappers guard the driver-side sink
commit inside foreachBatch, where the reference wrapped its Delta writes.
"""

from __future__ import annotations

import random
import threading
import time
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any, TypeVar

T = TypeVar("T")

#: substrings marking an error as retryable (reference error_handler.py:
#: 25-70 classifies connection/timeout/5xx/Kafka errors as transient)
RETRYABLE_MARKERS = (
    "connection",
    "timeout",
    "timed out",
    "unavailable",
    "temporarily",
    "too many requests",
    "503",
    "502",
    "500",
    "broken pipe",
    "reset by peer",
)

#: substrings marking a schema conflict (reference delta_writer.py:166-201
#: retries these after cache invalidation + re-merge)
SCHEMA_ERROR_MARKERS = ("schema", "type", "column", "field")


def is_retryable(exc: BaseException) -> bool:
    msg = str(exc).lower()
    return any(m in msg for m in RETRYABLE_MARKERS)


def is_schema_error(exc: BaseException) -> bool:
    msg = str(exc).lower()
    return any(m in msg for m in SCHEMA_ERROR_MARKERS)


@dataclass(frozen=True)
class RetryConfig:
    """Reference defaults: 3 attempts, 0.1 s initial, 60 s cap, base 2,
    ±20% jitter (error_handler.py:92-151)."""

    max_attempts: int = 3
    initial_delay: float = 0.1
    max_delay: float = 60.0
    exponential_base: float = 2.0
    jitter: bool = True

    def delay(self, attempt: int) -> float:
        d = min(
            self.initial_delay * self.exponential_base**attempt, self.max_delay
        )
        if self.jitter:
            d *= 1 + random.uniform(-0.2, 0.2)
        return max(d, 0.0)


def retry_call(
    fn: Callable[[], T],
    config: RetryConfig = RetryConfig(),
    retry_if: Callable[[BaseException], bool] = is_retryable,
    on_retry: Callable[[int, BaseException], None] | None = None,
    sleep: Callable[[float], None] = time.sleep,
) -> T:
    """Call fn, retrying transient failures with capped exponential backoff.
    Non-retryable errors propagate immediately."""
    last: BaseException | None = None
    for attempt in range(config.max_attempts):
        try:
            return fn()
        except BaseException as e:  # noqa: BLE001 — classification decides
            last = e
            if attempt + 1 >= config.max_attempts or not retry_if(e):
                raise
            if on_retry is not None:
                on_retry(attempt, e)
            sleep(config.delay(attempt))
    raise last  # pragma: no cover — loop always returns or raises


class CircuitOpenError(Exception):
    """Raised when the circuit is open (reference error_handler.py:398)."""


class CircuitBreaker:
    """closed → (failures ≥ threshold) → open → (timeout) → half-open →
    success closes / failure reopens (reference error_handler.py:345-476,
    defaults threshold=5, timeout=60 s).

    Safe to share between threads (a batch's table writes call it
    concurrently): state changes happen under a lock, and half-open
    admits exactly ONE probe — every other caller is rejected as if open
    until that probe's outcome closes or reopens the circuit."""

    def __init__(
        self,
        failure_threshold: int = 5,
        timeout_seconds: float = 60.0,
        clock: Callable[[], float] = time.monotonic,
    ):
        self.failure_threshold = failure_threshold
        self.timeout_seconds = timeout_seconds
        self._clock = clock
        self._lock = threading.Lock()
        self._failures = 0
        self._state = "closed"
        self._opened_at = 0.0
        self._probing = False

    def _current(self) -> str:
        if (
            self._state == "open"
            and self._clock() - self._opened_at >= self.timeout_seconds
        ):
            return "half-open"
        return self._state

    @property
    def state(self) -> str:
        with self._lock:
            return self._current()

    def call(self, fn: Callable[[], T]) -> T:
        with self._lock:
            state = self._current()
            if state == "open" or (state == "half-open" and self._probing):
                raise CircuitOpenError(
                    f"circuit open; retry after {self.timeout_seconds}s"
                )
            probe = state == "half-open"
            self._probing = self._probing or probe
        try:
            result = fn()
        except BaseException:
            with self._lock:
                self._failures += 1
                if probe or self._failures >= self.failure_threshold:
                    self._state = "open"
                    self._opened_at = self._clock()
                if probe:
                    self._probing = False
            raise
        with self._lock:
            self._failures = 0
            self._state = "closed"
            if probe:
                self._probing = False
        return result

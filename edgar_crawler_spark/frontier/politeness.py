"""Politeness primitives: per-host token buckets, retry policy,
throttle-banner detection, robots.txt gate.

The reference is polite by accident — one synchronous request at a
time (download_filings.py:176-190) — with a urllib3 Retry stack
(total=5, backoff_factor=0.2, status_forcelist 400/401/403/5xx;
download_filings.py:805-848) and an outer 5-attempt loop re-fetching
while the body contains the SEC throttle banner
(download_filings.py:486-509). In the distributed engine every host's
queue lives in exactly one partition per wave (host-hash
repartition), which makes the 10-req/s SEC budget *partition-local*:
a plain in-process token bucket enforces it with no cluster-global
coordinator (SURVEY.md §4.3.1).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

# reference retry parameters (download_filings.py:805-848)
RETRY_TOTAL = 5
RETRY_BACKOFF_FACTOR = 0.2
RETRY_STATUS_FORCELIST = (400, 401, 403, 500, 502, 503, 504, 505)
# throttle banner substring (download_filings.py:494-499)
THROTTLE_BANNER = "will be managed until action is taken to declare your traffic."
OUTER_THROTTLE_ATTEMPTS = 5


@dataclass
class TokenBucket:
    """Classic token bucket: ``rate`` tokens/s, burst ``capacity``.

    ``clock``/``sleep`` are injectable so tests and the stub fetcher
    run on a virtual clock (politeness arithmetic is exercised, wall
    time is not spent)."""

    rate: float
    capacity: float | None = None
    clock: object = time.monotonic
    sleep: object = time.sleep
    _tokens: float = field(init=False)
    _last: float = field(init=False)

    def __post_init__(self):
        self.capacity = self.capacity if self.capacity is not None else self.rate
        self._tokens = float(self.capacity)
        self._last = self.clock()

    def acquire(self, n: float = 1.0) -> float:
        """Block until n tokens are available; returns seconds waited."""
        waited = 0.0
        eps = 1e-9
        while True:
            now = self.clock()
            self._tokens = min(self.capacity, self._tokens + (now - self._last) * self.rate)
            self._last = now
            if self._tokens >= n - eps:
                self._tokens -= n
                return waited
            # floor the sleep so float rounding can't stall the clock
            need = max((n - self._tokens) / self.rate, 1e-4)
            self.sleep(need)
            waited += need


class VirtualClock:
    """Deterministic clock for tests/stub mode: sleep() advances time
    instantly. Token-bucket wait math is identical to wall-clock."""

    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t

    def sleep(self, s: float) -> None:
        self.t += s


def backoff_seconds(attempt: int, factor: float = RETRY_BACKOFF_FACTOR) -> float:
    """urllib3 Retry backoff: factor * 2**(attempt-1), 0 for first retry."""
    return 0.0 if attempt <= 1 else factor * (2 ** (attempt - 1))


def is_retryable(status: int) -> bool:
    return status in RETRY_STATUS_FORCELIST


def is_throttled(body: str | bytes | None) -> bool:
    if body is None:
        return False
    if isinstance(body, bytes):
        try:
            body = body.decode("utf-8", "ignore")
        except Exception:
            return False
    return THROTTLE_BANNER in body


class RobotsGate:
    """Minimal robots.txt cache per host. The reference has no robots
    handling (north_rule adds it); parser is stdlib-shaped:
    ``User-agent: *`` / ``Disallow:`` prefixes plus ``Crawl-delay:``
    (a declared per-request delay caps that host's token-bucket rate
    below the crawler's own budget — the polite minimum of the two)."""

    def __init__(self, fetch_robots=None):
        # fetch_robots(host) -> robots.txt text or None
        self._fetch = fetch_robots or (lambda host: None)
        self._deny: dict[str, list[str]] = {}
        self._delay: dict[str, float | None] = {}

    def _rules(self, host: str) -> list[str]:
        if host not in self._deny:
            txt = self._fetch(host)
            deny, active = [], False
            delay = None
            for line in (txt or "").splitlines():
                line = line.split("#", 1)[0].strip()
                low = line.lower()
                if low.startswith("user-agent:"):
                    active = line.split(":", 1)[1].strip() == "*"
                elif active and low.startswith("disallow:"):
                    path = line.split(":", 1)[1].strip()
                    if path:
                        deny.append(path)
                elif active and low.startswith("crawl-delay:"):
                    try:
                        delay = float(line.split(":", 1)[1].strip())
                    except ValueError:
                        pass  # malformed delay: ignore, keep own budget
            self._deny[host] = deny
            self._delay[host] = delay
        return self._deny[host]

    def allowed(self, host: str, path: str) -> bool:
        return not any(path.startswith(p) for p in self._rules(host))

    def crawl_delay(self, host: str) -> float | None:
        self._rules(host)  # populate cache
        return self._delay.get(host)

"""In-process fake of the B2B order-status endpoint.

Runs inside the executors' Python workers (``fan_out_fetch`` calls it
once per request). Each call sleeps a fixed latency; the first two
attempts for a PO fail with a transient error at a seeded rate, so
every PO succeeds within ``fan_out_fetch``'s retry budget. Calls and
successes are counted in Spark accumulators for the attempts-per-
document ratio.
"""

from __future__ import annotations

import time
from xml.etree import ElementTree as ET

from perfbench.gen import _mix, status_lines

LATENCY_S = 0.002
ERROR_RATE = 0.03


class FakeStatusApi:
    """Picklable transport: ``request_xml -> response_xml``."""

    def __init__(self, seed: int, calls, successes):
        self.seed = seed
        self.calls = calls
        self.successes = successes
        self._attempts: dict[str, int] = {}

    def __call__(self, request_xml: str) -> str:
        self.calls.add(1)
        po = ET.fromstring(request_xml).findtext(".//PONumber") or ""
        attempt = self._attempts.get(po, 0)
        self._attempts[po] = attempt + 1
        time.sleep(LATENCY_S)
        if attempt < 2 and _mix(self.seed + 7919 * (attempt + 1), po) % 10_000 < ERROR_RATE * 10_000:
            raise ConnectionError(f"transient upstream error for {po}")
        self.successes.add(1)
        lines = "".join(
            f"<Status><Code>{code}</Code><Description>{desc}</Description></Status>"
            for code, desc in status_lines(self.seed, po)
        )
        return f"<OrderStatusResponse><PONumber>{po}</PONumber>{lines}</OrderStatusResponse>"

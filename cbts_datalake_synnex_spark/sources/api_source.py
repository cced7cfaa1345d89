"""S5 — credentialed request/response document-exchange source, with
T3 bounded-concurrency fan-out on executors.

Reference shape (SURVEY §3.2): a Step Functions Map state iterates a PO
list with ``MaxConcurrency: 5`` and per-item retry/backoff
(``serverless.yml:157-169``); each Lambda builds an XML
OrderStatusRequest document, POSTs it, and parses the response into
records (``src/purchase_orders.py:41-75``). The reference performs an
HTTP ``GET`` with an XML body (§0.1-4 — a bug); the intent is a POST
document exchange, which is what we implement.

Spark-first mapping: the request list is a DataFrame; hash-partitioning
it into ``n`` tasks bounds concurrency exactly like ``MaxConcurrency``; the exchange runs
inside ``mapInPandas`` so fetches fan out on executors (never a
driver-side loop over ``collect()``); retry/backoff lives inside the
UDF. The transport is injected — tests use a deterministic fake; real
deployments pass an ``urllib``-based callable. At 100 TB-scale ingest
the same plan holds: the bottleneck is the remote API, which is why the
concurrency bound is a first-class argument.
"""

from __future__ import annotations

import time
from typing import Callable, Iterable, Iterator, Optional
from xml.etree import ElementTree as ET

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

# Response schema: flat string records, matching the reference's
# string-first ingest discipline (SURVEY §1.2).
STATUS_SCHEMA = StructType(
    [
        StructField("po_number", StringType()),
        StructField("code", StringType()),
        StructField("status", StringType()),
        StructField("error", StringType()),
    ]
)


def build_order_status_request(po_number: str, user: str, password: str) -> str:
    """XML OrderStatusRequest document (src/purchase_orders.py:50-60
    intent: versioned B2B envelope + credential block + PO number)."""
    root = ET.Element("OrderStatusRequest", version="2.7")
    cred = ET.SubElement(root, "Credential")
    ET.SubElement(cred, "UserID").text = user
    ET.SubElement(cred, "Password").text = password
    req = ET.SubElement(root, "Request")
    ET.SubElement(req, "PONumber").text = po_number
    return ET.tostring(root, encoding="unicode")


def parse_order_status_response(xml_text: str) -> list[dict[str, str]]:
    """Response document → flat records (src/purchase_orders.py:75
    ``response.json()`` intent — one record per status line)."""
    root = ET.fromstring(xml_text)
    po = root.findtext(".//PONumber") or ""
    out = []
    for item in root.iter("Status"):
        out.append(
            {
                "po_number": po,
                "code": item.findtext("Code") or "",
                "status": item.findtext("Description") or "",
                "error": "",
            }
        )
    if not out:  # empty response still yields a row so the PO is visible
        out.append({"po_number": po, "code": "", "status": "", "error": "empty_response"})
    return out


class TTLCache:
    """Driver-side TTL cache for credential/parameter lookups — the
    role of ``cachetools.TTLCache(4196, ttl=600)`` at ``utils.py:91-99``
    (SSM credential fetch memoization). Injectable clock for tests."""

    def __init__(self, ttl_s: float = 600.0, maxsize: int = 4196, clock=None):
        import time as _time

        self._ttl = ttl_s
        self._maxsize = maxsize
        self._clock = clock or _time.monotonic
        self._store: dict = {}

    def get_or_load(self, key, loader: Callable[[], object]):
        now = self._clock()
        hit = self._store.get(key)
        if hit is not None and now - hit[0] < self._ttl:
            return hit[1]
        value = loader()
        if len(self._store) >= self._maxsize:
            # evict the stalest entry (small cache — O(n) scan is fine)
            oldest = min(self._store, key=lambda k: self._store[k][0])
            del self._store[oldest]
        self._store[key] = (now, value)
        return value


class FatalTransportError(RuntimeError):
    """Non-retryable exchange failure (HTTP 4xx other than 408/429):
    the request itself is wrong — bad credentials, unknown endpoint,
    malformed document. Retrying burns the backoff budget for nothing,
    so `fan_out_fetch` records the error row immediately."""


def http_transport(url: str, timeout_s: float = 30.0) -> Callable[[str], str]:
    """Real POST-document-exchange transport over stdlib urllib (the
    reference used ``requests`` with a GET+body — a bug, §0.1-4; the
    endpoint semantics are POST). Status handling mirrors what a
    production client does: 2xx returns the body; 408/429/5xx and
    network/timeout failures raise retryable errors (the Map state's
    retry/backoff lane); any other 4xx raises
    :class:`FatalTransportError` and skips the retry loop. Returned
    callable is picklable (module-level functools.partial). Driven
    end-to-end against a live local server in
    tests/test_http_transport.py."""
    import functools

    return functools.partial(_http_post_xml, url, timeout_s)


_RETRYABLE_STATUSES = {408, 429}


def _http_post_xml(url: str, timeout_s: float, payload_xml: str) -> str:
    from urllib.error import HTTPError
    from urllib.request import Request, urlopen

    req = Request(
        url,
        data=payload_xml.encode("utf-8"),
        headers={"Content-Type": "application/xml"},
        method="POST",
    )
    try:
        with urlopen(req, timeout=timeout_s) as resp:
            return resp.read().decode("utf-8")
    except HTTPError as exc:
        # urlopen raises for every non-2xx; classify before the retry
        # loop sees it: server-side/throttle statuses are retryable,
        # the rest of 4xx means the request itself is wrong
        if exc.code >= 500 or exc.code in _RETRYABLE_STATUSES:
            raise RuntimeError(f"status fetch failed: HTTP {exc.code}") from exc
        raise FatalTransportError(f"HTTP {exc.code}: {exc.reason}") from exc


def fan_out_fetch(
    requests_df: DataFrame,
    transport: Callable[[str], str],
    po_col: str = "po_number",
    user: str = "",
    password: str = "",
    concurrency: int = 5,
    max_attempts: int = 5,
    backoff_s: float = 0.1,
    backoff_rate: float = 2.0,
    sleep: Optional[Callable[[float], None]] = None,
) -> DataFrame:
    """T3 — executor-side fan-out fetch with bounded concurrency.

    ``concurrency`` bounds simultaneous in-flight requests the way the
    Map state's ``MaxConcurrency: 5`` did (serverless.yml:163); retry
    geometry mirrors serverless.yml:164-169 (interval × attempts,
    backoff rate). ``transport`` maps request-XML → response-XML and
    must be picklable (a module-level function or functools.partial).
    Failures after retries become rows with ``error`` set — a fan-out
    over 1e6 POs must not die on one bad item.
    """
    _sleep = sleep if sleep is not None else time.sleep

    def fetch_partition(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen: set[str] = set()
        for pdf in batches:
            rows: list[dict[str, str]] = []
            for po in pdf[po_col].astype(str):
                if po in seen:
                    continue
                seen.add(po)
                payload = build_order_status_request(po, user, password)
                delay = backoff_s
                last_err = ""
                for attempt in range(max_attempts):
                    try:
                        rows.extend(parse_order_status_response(transport(payload)))
                        last_err = ""
                        break
                    except FatalTransportError as exc:  # 4xx: no retry
                        last_err = f"{type(exc).__name__}: {exc}"
                        break
                    except Exception as exc:  # retry w/ backoff, then record
                        last_err = f"{type(exc).__name__}: {exc}"
                        if attempt < max_attempts - 1:
                            _sleep(delay)
                            delay *= backoff_rate
                if last_err:
                    rows.append(
                        {"po_number": po, "code": "", "status": "", "error": last_err}
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in STATUS_SCHEMA.fields])

    # Equal POs hash to one partition, so each is fetched once (`seen`)
    # and all its retries run in one task; an explicit partition count
    # is never coalesced by AQE.
    n = min(concurrency, requests_df.sparkSession.sparkContext.defaultParallelism)
    bounded = requests_df.select(po_col).repartition(n, po_col)
    return bounded.mapInPandas(fetch_partition, STATUS_SCHEMA)

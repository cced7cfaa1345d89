"""Seeded input generators for the three workloads.

Every generator takes a seed and returns plain Python / NumPy / pandas
objects; the engine only ever sees what these produce. The same seed
always yields the same inputs (pinned by tests/test_gen.py).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# ----------------------------------------------------------------------
# po_nightly_etl: nested purchase orders, status fetches, CDC batches

STATUSES = ("accepted", "picked", "packed", "shipped", "delivered", "invoiced", "closed")
CITIES = ("Austin", "Boise", "Dayton", "Fresno", "Helena", "Irvine", "Macon", "Ogden", "Provo", "Tulsa")
CARRIERS = ("UPS", "FedEx", "DHL", "USPS", "OnTrac")
PRIORITIES = ("standard", "expedite", "hold")


@dataclass(frozen=True)
class EtlSizes:
    initial_pos: int = 2_000  # rows curated during set-up
    new_pos: int = 1_000  # new nested records per batch
    status_fetches: int = 100  # POs whose status is fetched per batch
    cdc_updates: int = 150
    cdc_deletes: int = 8
    compact_every: int = 2  # compact_table after every Nth batch (1-based)


def po_key(i: int) -> str:
    return f"PO{i:08d}"


def _po_record(rng: np.random.Generator, key: int, batch: int) -> dict:
    """One nested PO document. Batches >= 2 may carry a ``carrier``
    struct and batches >= 4 a ``priority`` field: additive schema
    evolution for the curated table."""
    rec = {
        "po_number": po_key(key),
        "status": STATUSES[int(rng.integers(0, 3))],
        "order_date": (dt.date(2026, 1, 1) + dt.timedelta(days=int(rng.integers(0, 300)))).isoformat(),
        "total": round(float(rng.uniform(10, 5000)), 2),
        "line_count": int(rng.integers(1, 40)),
        "customer": {
            "id": f"C{int(rng.integers(0, 50_000)):06d}",
            "name": f"customer {int(rng.integers(0, 50_000))}",
            "address": {"city": CITIES[int(rng.integers(0, len(CITIES)))], "zip": f"{int(rng.integers(10_000, 99_999))}"},
        },
    }
    if batch >= 2 and rng.random() < 0.5:
        rec["carrier"] = {"name": CARRIERS[int(rng.integers(0, len(CARRIERS)))], "tracking": f"T{int(rng.integers(0, 10**9)):09d}"}
    if batch >= 4 and rng.random() < 0.3:
        rec["priority"] = PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]
    return rec


@dataclass
class EtlBatch:
    index: int  # 1-based batch number; 0 is the set-up load
    records: list[dict]  # new nested PO documents to stage + curate
    fetch_pos: list[str]  # status-changed POs fetched through the API
    changes: pd.DataFrame  # CDC rows: po_number, status, op ('U' / 'D')
    compact: bool
    rows_after_curate: int  # curated row count once this batch's records land


@dataclass
class PoStream:
    """Sequential PO batch generator that also keeps the expected
    curated state (key -> status) the engine must end up with."""

    seed: int
    sizes: EtlSizes = field(default_factory=EtlSizes)

    def __post_init__(self) -> None:
        self._rng = np.random.default_rng([self.seed, 101])
        self._next_key = 0
        self.expected: dict[str, str] = {}
        self._live: list[str] = []  # keys in insertion order, deletions lazily skipped

    def _new_records(self, n: int, batch: int) -> list[dict]:
        recs = [_po_record(self._rng, self._next_key + i, batch) for i in range(n)]
        self._next_key += n
        for r in recs:
            self.expected[r["po_number"]] = r["status"]
            self._live.append(r["po_number"])
        return recs

    def initial(self) -> list[dict]:
        return self._new_records(self.sizes.initial_pos, 0)

    def next_batch(self, index: int, scale: float = 1.0) -> EtlBatch:
        """Batch ``index``; ``scale`` shrinks every per-batch count
        (the untimed warm-up batch uses a fraction of a full batch)."""
        s = self.sizes
        rng = self._rng
        n_new, n_fetch = max(1, int(s.new_pos * scale)), max(1, int(s.status_fetches * scale))
        n_upd, n_del = max(1, int(s.cdc_updates * scale)), max(1, int(s.cdc_deletes * scale))
        # CDC touches keys that existed before this batch's inserts
        live = [k for k in self._live if k in self.expected]
        self._live = live
        picks = rng.choice(len(live), size=n_upd + n_del, replace=False)
        upd = [live[i] for i in picks[:n_upd]]
        dele = [live[i] for i in picks[n_upd:]]
        fetch = [live[i] for i in rng.choice(len(live), size=n_fetch, replace=False)]
        new_status = [STATUSES[int(x)] for x in rng.integers(2, len(STATUSES), size=len(upd))]
        rows_after_curate = len(self.expected) + n_new
        records = self._new_records(n_new, index)
        for k, st in zip(upd, new_status):
            self.expected[k] = st
        for k in dele:
            del self.expected[k]
        changes = pd.DataFrame(
            {
                "po_number": upd + dele,
                "status": new_status + [""] * len(dele),
                "op": ["U"] * len(upd) + ["D"] * len(dele),
            }
        )
        return EtlBatch(index, records, sorted(fetch), changes, index % s.compact_every == 0, rows_after_curate)


def status_lines(seed: int, po: str) -> list[tuple[str, str]]:
    """The fake API's (code, description) status lines for one PO:
    1-3 lines, a pure function of (seed, po)."""
    h = _mix(seed, po)
    n = 1 + h % 3
    return [(str(10 * (j + 1)), STATUSES[(h >> (4 + 3 * j)) % len(STATUSES)]) for j in range(n)]


def _mix(seed: int, text: str) -> int:
    """Stable 32-bit FNV-1a of (seed, text); Python's hash() is salted."""
    h = 0x811C9DC5 ^ (seed & 0xFFFFFFFF)
    for b in text.encode():
        h = ((h ^ b) * 0x01000193) & 0xFFFFFFFF
    return h


# ----------------------------------------------------------------------
# curated_sql: TPC-H-style star schema

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
START_DATE = dt.date(1992, 1, 1)
ORDER_DAYS = 2405  # orders fall in [1992-01-01, 1998-08-02]
CUTOFF = dt.date(1995, 6, 17)  # lineitem returnflag / linestatus boundary


def tpch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """region, nation, supplier, customer, orders, lineitem and
    ``orders_late`` (a second orders append, so ``orders`` has two
    snapshots for time-travel reads)."""
    rng = np.random.default_rng([seed, 202])
    n_supp, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)  # parts: keys only
    n_ord = int(1_500_000 * sf)
    region = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)})
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i:02d}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(1, n_supp + 1, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(1, n_cust + 1, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    n_all = n_ord + n_ord // 20  # the last 5% arrive as a late append
    odate = rng.integers(0, ORDER_DAYS - 151, n_all)
    orders_all = pd.DataFrame(
        {
            "o_orderkey": np.arange(1, n_all + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, n_cust + 1, n_all).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_all)],
            "o_totalprice": np.round(rng.uniform(850, 500_000, n_all), 2),
            "o_orderdate": pd.to_datetime(START_DATE) + pd.to_timedelta(odate, unit="D"),
            "o_orderpriority": np.array(ORDER_PRIORITIES)[rng.integers(0, 5, n_all)],
        }
    )
    orders_all["o_orderdate"] = orders_all["o_orderdate"].dt.date
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    l_order = np.repeat(np.arange(1, n_ord + 1, dtype=np.int64), lines_per)
    l_line = (np.arange(n_li) - np.repeat(np.cumsum(lines_per) - lines_per, lines_per) + 1).astype(np.int32)
    ship = np.repeat(odate[:n_ord], lines_per) + rng.integers(1, 122, n_li)
    ship_dates = pd.to_datetime(START_DATE) + pd.to_timedelta(ship, unit="D")
    receipt = ship + rng.integers(1, 31, n_li)
    cutoff = (CUTOFF - START_DATE).days
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    flag = np.where(receipt <= cutoff, np.array(["R", "A"])[rng.integers(0, 2, n_li)], "N")
    lineitem = pd.DataFrame(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
            "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": flag,
            "l_linestatus": np.where(ship > cutoff, "O", "F"),
            "l_shipdate": ship_dates.date,
            "l_shipyear": ship_dates.year.astype(np.int32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "customer": customer,
        "orders": orders_all.iloc[:n_ord].reset_index(drop=True),
        "orders_late": orders_all.iloc[n_ord:].reset_index(drop=True),
        "lineitem": lineitem,
    }


# ----------------------------------------------------------------------
# llm_corpus_curation: documents, embeddings and perturbed batches

_CONSONANTS = "bcdfghklmnprstvw"
_VOWELS = "aeiou"
STOPWORDS = ("the", "of", "and", "to", "in", "is", "that", "for", "it", "with", "as", "on", "was", "by", "at")


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    words = set()
    while len(words) < n:
        syl = int(rng.integers(1, 4))
        words.add("".join(_CONSONANTS[int(rng.integers(0, 16))] + _VOWELS[int(rng.integers(0, 5))] for _ in range(syl)) + "n")
    return np.array(sorted(words))


@dataclass(frozen=True)
class CorpusSizes:
    corpus_docs: int = 2_500
    corpus_vectors: int = 1_000
    dim: int = 64
    clusters: int = 24
    batch_docs: int = 250
    near_dup_rate: float = 0.3  # share of a batch that is a lightly edited corpus doc
    exact_dup_rate: float = 0.1  # share of a batch that repeats another batch doc verbatim
    knn_k: int = 10
    lsh_threshold: float = 0.7


@dataclass
class Corpus:
    docs: pd.DataFrame  # doc_id, text
    vectors: pd.DataFrame  # vec_id, embedding (list[float])
    centers: np.ndarray


class CorpusStream:
    """Corpus plus a sequence of seeded document batches drawn from and
    perturbed against it."""

    def __init__(self, seed: int, sizes: CorpusSizes = CorpusSizes()) -> None:
        self.sizes = sizes
        s = self.sizes
        self._rng = np.random.default_rng([seed, 303])
        rng = self._rng
        vocab = _vocabulary(rng, 4_000)
        # Zipf-ish word weights so documents share common words
        w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
        self._vocab, self._p = vocab, w / w.sum()
        texts = [self._text() for _ in range(s.corpus_docs)]
        docs = pd.DataFrame({"doc_id": np.arange(1, s.corpus_docs + 1, dtype=np.int64), "text": texts})
        centers = rng.normal(size=(s.clusters, s.dim))
        vecs = self._vectors(centers, s.corpus_vectors)
        vectors = pd.DataFrame(
            {"vec_id": np.arange(1, s.corpus_vectors + 1, dtype=np.int64), "embedding": list(vecs)}
        )
        self.corpus = Corpus(docs, vectors, centers)

    def _text(self) -> str:
        n = int(self._rng.integers(60, 180))
        words = self._rng.choice(self._vocab, size=n, p=self._p)
        stops = self._rng.random(n) < 0.25
        words = np.where(stops, np.array(STOPWORDS)[self._rng.integers(0, len(STOPWORDS), n)], words)
        return " ".join(words.tolist()) + "."

    def _vectors(self, centers: np.ndarray, n: int) -> np.ndarray:
        which = self._rng.integers(0, len(centers), n)
        return (centers[which] + 0.55 * self._rng.normal(size=(n, centers.shape[1]))).astype(np.float32)

    def _perturb(self, text: str) -> str:
        words = text.split(" ")
        n_edit = max(1, int(len(words) * self._rng.uniform(0.005, 0.04)))
        for i in self._rng.integers(0, len(words), n_edit):
            words[int(i)] = str(self._vocab[int(self._rng.integers(0, len(self._vocab)))])
        return " ".join(words)

    def batch(self, index: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """(docs, vectors) for batch ``index``; ids never collide with
        the corpus or with other batches."""
        s = self.sizes
        rng = self._rng
        base = 1_000_000 * (index + 1)
        corpus_text = self.corpus.docs["text"].to_numpy()
        texts: list[str] = []
        for _ in range(s.batch_docs):
            r = rng.random()
            if texts and r < s.exact_dup_rate:
                texts.append(texts[int(rng.integers(0, len(texts)))])
            elif r < s.exact_dup_rate + s.near_dup_rate:
                texts.append(self._perturb(corpus_text[int(rng.integers(0, len(corpus_text)))]))
            else:
                texts.append(self._text())
        ids = np.arange(base, base + s.batch_docs, dtype=np.int64)
        docs = pd.DataFrame({"doc_id": ids, "text": texts})
        vecs = pd.DataFrame({"vec_id": ids, "embedding": list(self._vectors(self.corpus.centers, s.batch_docs))})
        return docs, vecs

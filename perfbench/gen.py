"""Seeded input generators for the benchmark.

Every generator draws from a numpy generator seeded by the run's seed
and returns pyarrow tables, so the same seed gives identical inputs, and
nothing here touches Spark: the program under test only ever sees the
parquet files these tables are written to.

Shapes follow the repository's TPC-H-style fixture schema (the one the
registered queries and their DuckDB oracles are written against):
``region nation customer supplier part orders lineitem events
documents``. Scale factor 1 means 6M lineitem rows; each workload part
has its own default scale (``workloads``) and the smoke test runs 0.001.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_US = 1_000_000
_DAY_US = 86_400 * _US
_EPOCH = dt.datetime(1970, 1, 1)


def _ts_us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * _US


ORDER_START_US = _ts_us(dt.datetime(1995, 1, 1))
ORDER_DAYS = 2404  # through 2001-08-01, as in the fixture
EVENT_START_US = _ts_us(dt.datetime(2024, 1, 1))

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "green", "steel", "tiny", "bright"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "valve", "spring", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.45, 0.15, 0.12, 0.13]
# 512 pronounceable words: big enough that two unrelated documents share
# almost no 3-word shingles, so every LSH candidate is a planted one or
# a genuine near-duplicate.
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo"]
VOCAB = [a + b + c for a in _SYL for b in _SYL for c in _SYL]

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per input stream, so adding draws to one
    stream never shifts another's values."""
    tag = sum((i + 1) * ord(c) for i, c in enumerate(stream))
    return np.random.default_rng([int(seed), tag])


def _ts_col(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tpch_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The eight relational tables at scale factor ``sf``."""
    rng = rng_for(seed, "tpch")
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    price = np.round(900.0 + (pk % 1000) / 10.0, 2)
    part = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    })
    odate = ORDER_START_US + rng.integers(0, ORDER_DAYS, n_ord) * _DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_col(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    lines = rng.integers(1, 8, n_ord)  # 1..7 lines, mean 4 -> 6M rows at sf1
    l_ok = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_ln = np.arange(len(l_ok)) - starts + 1
    lineitem = lineitem_table(
        rng, l_ok, l_ln, n_part, n_supp, np.repeat(odate, lines)
    )
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem,
    }


def lineitem_table(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    linenumbers: np.ndarray,
    n_part: int,
    n_supp: int,
    base_date_us: np.ndarray,
    shipdate_us: np.ndarray | None = None,
) -> pa.Table:
    n = len(orderkeys)
    partkey = rng.integers(0, n_part, n)
    qty = rng.integers(1, 51, n).astype("float64")
    if shipdate_us is None:
        shipdate_us = base_date_us + rng.integers(1, 122, n) * _DAY_US
    return pa.table({
        "l_orderkey": pa.array(orderkeys, pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(linenumbers, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (partkey % 1000) / 10.0), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_col(shipdate_us),
    })


def write_table(table: pa.Table, path: str) -> int:
    """One single-row-group parquet file, as the fixtures are; returns
    its size in bytes."""
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
    return os.path.getsize(path)


# --- sync_rounds: seeded increments ---------------------------------------

# Increment sizes by round: a ten-row warm-up round (touching about
# half of 16 buckets), then 2500 rows a round (touching all of them).
# Only the rows are seeded, so every run measures the same sizes.
WARMUP_SIZE, ROUND_SIZE = 10, 2500


def increment_size(round_index: int) -> int:
    return WARMUP_SIZE if round_index == 0 else ROUND_SIZE


UPDATE_SHARE, DUP_SHARE, INVALID_SHARE, DELETE_SHARE = 0.4, 0.1, 0.1, 0.1


@dataclass
class Increment:
    raw: pa.Table          # landed rows: updates, new keys, dups, invalid
    deletes: pa.Table      # (l_orderkey, l_linenumber) deletion feed
    n_invalid: int         # planted rows failing a validation rule
    n_dups: int            # planted older copies of an increment key


class IncrementStream:
    """Lazily generates increment after increment against a tracked copy
    of the destination's key set, so updates and deletions always hit
    live keys and new keys are always fresh. Rows of round r carry
    l_shipdate in (base_max + (r-1) days, base_max + r days], strictly
    above every earlier round: the sync watermark sees each round once."""

    def __init__(self, base: pa.Table, n_part: int, n_supp: int, seed: int):
        self.rng = rng_for(seed, "increments")
        ok = base.column("l_orderkey").to_numpy()
        ln = base.column("l_linenumber").to_numpy().astype("int64")
        self.keys = ok * 8 + ln
        self.alive = np.ones(len(self.keys), dtype=bool)
        self.next_order = int(ok.max()) + 1
        self.n_part, self.n_supp = n_part, n_supp
        self.wm0 = int(
            base.column("l_shipdate").cast(pa.int64()).to_numpy().max()
        )
        self.round = 0

    def _fresh_keys(self, n: int) -> np.ndarray:
        """``n`` keys of new orders (1-7 lines each, numbered from 1)."""
        keys: list[int] = []
        while len(keys) < n:
            lines = int(self.rng.integers(1, 8))
            keys.extend(self.next_order * 8 + ln for ln in range(1, lines + 1))
            self.next_order += 1
        return np.array(keys[:n], dtype="int64")

    def next(self) -> Increment:
        n = increment_size(self.round)
        self.round += 1
        lo = self.wm0 + (self.round - 1) * _DAY_US
        rng = self.rng
        n_upd = int(round(n * UPDATE_SHARE))
        n_dup = int(round(n * DUP_SHARE))
        n_bad = max(int(round(n * INVALID_SHARE)), 1)
        n_new = n - n_upd - n_dup - n_bad
        n_del = max(int(round(n * DELETE_SHARE)), 1)

        live = np.flatnonzero(self.alive)
        picked = rng.choice(live, n_upd + n_del, replace=False)
        upd_keys = self.keys[picked[:n_upd]]
        del_idx = picked[n_upd:]
        new_keys = self._fresh_keys(n_new + n_bad)
        good = np.concatenate([upd_keys, new_keys[:n_new]])
        bad = new_keys[n_new:]
        # shipdates strictly inside (lo, lo + 1 day); dups get an earlier
        # time than their original, so keep-latest dedup drops the dup
        ship = lo + 2 * _US + rng.integers(0, _DAY_US - 4 * _US, len(good))
        dup_src = rng.choice(len(good), n_dup, replace=False)
        dup_keys = good[dup_src]
        dup_ship = lo + 1 * _US + (ship[dup_src] - lo - 1 * _US) // 2
        bad_ship = lo + 2 * _US + rng.integers(0, _DAY_US - 4 * _US, len(bad))
        all_keys = np.concatenate([good, dup_keys, bad])
        all_ship = np.concatenate([ship, dup_ship, bad_ship])
        t = lineitem_table(
            rng, all_keys // 8, all_keys % 8, self.n_part, self.n_supp,
            all_ship, shipdate_us=all_ship,
        )
        # invalid rows break exactly one rule each, chosen at random
        qty = t.column("l_quantity").to_numpy().copy()
        disc = t.column("l_discount").to_numpy().copy()
        tax = t.column("l_tax").to_numpy().copy()
        off = len(good) + len(dup_keys)
        for i, rule in enumerate(rng.integers(0, 3, len(bad))):
            j = off + i
            if rule == 0:
                qty[j] = -qty[j]
            elif rule == 1:
                disc[j] = 0.25
            else:
                tax[j] = -0.01
        t = (
            t.set_column(4, "l_quantity", pa.array(qty))
            .set_column(6, "l_discount", pa.array(disc))
            .set_column(7, "l_tax", pa.array(tax))
        )
        order = rng.permutation(t.num_rows)  # landed out of key order
        t = t.take(pa.array(order))

        self.alive[del_idx] = False
        self.keys = np.concatenate([self.keys, new_keys[:n_new]])
        self.alive = np.concatenate([self.alive, np.ones(n_new, dtype=bool)])
        dk = self.keys[del_idx]
        deletes = pa.table({
            "l_orderkey": pa.array(dk // 8, pa.int64()),
            "l_linenumber": pa.array(dk % 8, pa.int32()),
        })
        return Increment(t, deletes, len(bad), len(dup_keys))


# --- dedup_ingest: corpus and batches -------------------------------------


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_words))


def documents(n: int, seed: int, start_id: int = 0) -> pa.Table:
    """Corpus documents: 12-120 words, mostly above the curation length
    floor; about one in twenty is digit-heavy (fails the digit cap)."""
    rng = rng_for(seed, f"documents{start_id}")
    texts = []
    for _ in range(n):
        t = _doc_text(rng, int(rng.integers(12, 121)))
        if rng.random() < 0.05:
            t = " ".join(str(x) for x in rng.integers(10_000, 99_999, 30)) + " " + t[:40]
        texts.append(t)
    return _doc_table(rng, np.arange(start_id, start_id + n), texts)


def _doc_table(rng: np.random.Generator, ids: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


@dataclass
class DocBatch:
    docs: pa.Table
    exact: list[tuple[int, int]]   # (new doc_id, corpus doc_id it copies)
    intra: list[tuple[int, int]]   # (new doc_id, earlier new doc_id it copies)
    near: list[tuple[int, int]]    # (new doc_id, corpus doc_id it edits)


class DocBatchStream:
    """Batches of new documents: fresh text, exact copies of corpus
    documents, exact copies of an earlier document in the same batch
    (whitespace/case-perturbed, which normalized dedup must catch) and
    near-duplicates of corpus documents with a few word edits."""

    def __init__(self, corpus: pa.Table, batch_size: int, seed: int):
        self.rng = rng_for(seed, "doc_batches")
        self.texts = corpus.column("text").to_pylist()
        self.ids = corpus.column("doc_id").to_numpy()
        # only docs that pass the curation filters are copy sources
        self.sources = [
            i for i, t in enumerate(self.texts)
            if len(t) >= 100 and not any(c.isdigit() for c in t)
        ]
        self.next_id = int(self.ids.max()) + 1
        self.batch_size = batch_size

    def next(self) -> DocBatch:
        rng, n = self.rng, self.batch_size
        n_exact, n_intra, n_near = n // 10, n // 20, n // 5
        n_fresh = n - n_exact - n_intra - n_near
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        texts: list[str] = []
        exact, intra, near = [], [], []
        for _ in range(n_fresh):
            texts.append(_doc_text(rng, int(rng.integers(20, 121))))
        for src in rng.choice(self.sources, n_exact, replace=False):
            exact.append((int(ids[len(texts)]), int(self.ids[src])))
            texts.append(self.texts[src])
        for k in range(n_intra):
            j = int(rng.integers(0, n_fresh))
            intra.append((int(ids[len(texts)]), int(ids[j])))
            texts.append("  " + texts[j].upper().replace(" ", "   ") + " ")
        for src in rng.choice(self.sources, n_near, replace=False):
            words = self.texts[src].split(" ")
            for pos in rng.choice(len(words), min(2, len(words)), replace=False):
                words[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            near.append((int(ids[len(texts)]), int(self.ids[src])))
            texts.append(" ".join(words))
        perm = rng.permutation(n)
        docs = _doc_table(rng, ids, [texts[i] for i in range(n)]).take(pa.array(perm))
        return DocBatch(docs, exact, intra, near)


# --- stream_ingest: event slices ------------------------------------------

SLICE_MINUTES = 30
LATE_SHARE = 0.05


def event_slice(seed: int, index: int, rows: int) -> pa.Table:
    """Events of slice ``index``: timestamps inside the slice's 30-minute
    span, shuffled, plus ~5% late events 0.5-3 hours behind the span
    (the ones more than the 2-hour watermark late get dropped)."""
    rng = rng_for(seed, f"events{index}")
    span = SLICE_MINUTES * 60 * _US
    lo = EVENT_START_US + index * span
    ts = lo + rng.integers(0, span, rows)
    late = rng.random(rows) < LATE_SHARE
    ts[late] -= rng.integers(span, 6 * span, int(late.sum()))
    return pa.table({
        "event_id": pa.array(np.arange(index * rows, (index + 1) * rows), pa.int64()),
        "ts": _ts_col(ts),
        "user_id": pa.array(rng.integers(0, 1500, rows), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, rows)],
        "value": np.round(rng.uniform(0.01, 490.0, rows), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
    })

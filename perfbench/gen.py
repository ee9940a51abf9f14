"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``seed`` (and a size): the same
seed gives byte-identical inputs, and each table draws from its own
PCG64 stream, so changing one table's size never shifts another's
values. The program under test sees only the files written here.

- :func:`zipf_corpus` — line text for ``mr_wordcount``: Zipf-ranked
  words over a synthetic lowercase vocabulary.
- :func:`tpch_tables` — the TPC-H-like star schema plus ``events`` for
  the query pass of ``lake_mix``, with the schemas, foreign keys and value ranges of the
  program's synthetic test tables (``o_orderkey`` ← ``l_orderkey``,
  ``c_custkey`` ← ``o_custkey``, ``p_partkey``/``s_suppkey`` ←
  ``lineitem``, nation → region).
- :class:`IngestStream` — ``documents``/``embeddings`` for the ingest
  batches of ``lake_mix``: a base corpus plus arriving batches that carry a
  ``DUP_SHARE`` of perturbed near-duplicates of base documents and
  vectors.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# Stream ids: one PCG64 stream per generated table.
_S_VOCAB, _S_CORPUS = 1, 2
_S_REGION, _S_CUST, _S_SUPP, _S_PART, _S_ORD, _S_LINE, _S_EVENTS = range(10, 17)
_S_DOCS, _S_VECS, _S_BATCH = 20, 21, 1000

# mr_wordcount corpus shape: words per line, vocabulary size, Zipf exponent.
WORDS_PER_LINE, VOCAB, ZIPF_S = 12, 20000, 1.1
# Share of each arriving ingest batch that is near-duplicates of the base.
DUP_SHARE = 0.2


def rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream]))


def vocabulary(seed: int, size: int, min_len: int = 2, max_len: int = 9) -> list[str]:
    """``size`` distinct lowercase words, in a seeded order."""
    r = rng(seed, _S_VOCAB)
    words: dict[str, None] = {}
    while len(words) < size:
        n = size - len(words)
        lens = r.integers(min_len, max_len + 1, size=n)
        letters = LETTERS[r.integers(0, 26, size=int(lens.sum()))]
        pos = 0
        for n_chars in lens:
            words["".join(letters[pos:pos + n_chars])] = None
            pos += n_chars
    return list(words)


# ---------------------------------------------------------------------------
# mr_wordcount
# ---------------------------------------------------------------------------


def zipf_corpus(seed: int, lines: int) -> bytes:
    """Newline-terminated text of ``lines`` lines, each ``WORDS_PER_LINE``
    single-space-separated words drawn with P(rank r) ∝ r^-ZIPF_S."""
    words = np.array(vocabulary(seed, VOCAB))
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    p /= p.sum()
    draws = rng(seed, _S_CORPUS).choice(VOCAB, size=(lines, WORDS_PER_LINE), p=p)
    toks = words[draws]
    return "".join(" ".join(row) + "\n" for row in toks.tolist()).encode()


# ---------------------------------------------------------------------------
# lake_mix: query pass
# ---------------------------------------------------------------------------

_EPOCH_1995 = dt.datetime(1995, 1, 1)
_ORDER_DAYS = (dt.datetime(2001, 8, 1) - _EPOCH_1995).days
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PCOLORS = ["blue", "cold", "green", "hot", "red", "tan"]
_PSHAPES = ["gear", "plate", "ring", "rod", "bolt"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _cents(r: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal money values in [lo, hi]."""
    return r.integers(round(lo * 100), round(hi * 100) + 1, size=n) / 100.0


def _days(base: dt.datetime, offsets: np.ndarray) -> pa.Array:
    stamps = np.datetime64(base, "us") + offsets.astype("timedelta64[D]")
    return pa.array(stamps.astype("datetime64[us]"), type=pa.timestamp("us"))


def tpch_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema at scale ``sf`` (sf=0.1: 150k orders, ~600k
    lineitems, 100k events)."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_events, n_users = int(1_500_000 * sf), int(1_000_000 * sf), max(int(15_000 * sf), 10)

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    rr = rng(seed, _S_REGION)
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rr.integers(0, 5, 25), pa.int32()),
    })
    rc = rng(seed, _S_CUST)
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rc.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rc, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rc.integers(0, 5, n_cust)]),
    })
    rs = rng(seed, _S_SUPP)
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rs, -999.99, 9999.99, n_supp),
    })
    rp = rng(seed, _S_PART)
    retail = _cents(rp, 900.0, 999.9, n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(
            np.char.add(np.array(_PCOLORS)[rp.integers(0, 6, n_part)], " "),
            np.array(_PSHAPES)[rp.integers(0, 5, n_part)],
        )),
        "p_brand": pa.array(np.char.add("Brand#", rp.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(np.array(_PTYPES)[rp.integers(0, 6, n_part)]),
        "p_size": pa.array(rp.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })

    ro = rng(seed, _S_ORD)
    odays = ro.integers(0, _ORDER_DAYS + 1, n_ord)
    ocust = ro.integers(0, n_cust, n_ord)
    status = np.array(["F", "O", "P"])[ro.integers(0, 3, n_ord)]
    prio = np.array(_PRIORITIES)[ro.integers(0, 5, n_ord)]

    rl = rng(seed, _S_LINE)
    per_order = rl.integers(1, 8, n_ord)  # 1..7 lines, mean 4
    n_line = int(per_order.sum())
    lorder = np.repeat(np.arange(n_ord), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    lnum = np.arange(n_line) - starts + 1
    lpart = rl.integers(0, n_part, n_line)
    qty = rl.integers(1, 51, n_line).astype(np.float64)
    price = np.round(qty * retail[lpart], 2)
    disc = rl.integers(0, 11, n_line) / 100.0
    tax = rl.integers(0, 9, n_line) / 100.0
    ship = odays[lorder] + rl.integers(1, 122, n_line)
    totals = np.bincount(lorder, weights=price * (1 + tax) * (1 - disc), minlength=n_ord)
    lineitem = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(lpart, pa.int64()),
        "l_suppkey": pa.array(rl.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": disc,
        "l_tax": tax,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rl.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rl.integers(0, 2, n_line)]),
        "l_shipdate": _days(_EPOCH_1995, ship),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(ocust, pa.int64()),
        "o_orderstatus": pa.array(status),
        "o_totalprice": np.round(totals, 2),
        "o_orderdate": _days(_EPOCH_1995, odays),
        "o_orderpriority": pa.array(prio),
    })

    re_ = rng(seed, _S_EVENTS)
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(re_.integers(0, month_us, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            (np.datetime64("2024-01-01T00:00:00", "us") + ts.astype("timedelta64[us]")),
            type=pa.timestamp("us"),
        ),
        "user_id": pa.array(re_.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[re_.integers(0, 5, n_events)]),
        "value": _cents(re_, 0.0, 560.0, n_events),
        "props": pa.array(np.char.add(
            np.char.add('{"k": ', re_.integers(0, 100, n_events).astype(str)), "}"
        )),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# lake_mix: ingest batches
# ---------------------------------------------------------------------------

DIM, LABELS = 64, 10


class IngestStream:
    """Base corpus plus an unbounded, seeded stream of arriving batches.

    Documents are 30–90 words from a 600-word vocabulary, so unrelated
    documents share almost no 3-word shingle. A near-duplicate copies a
    base document and replaces one word, which changes at most three
    shingles: 3-shingle Jaccard 0.8–0.93, above the 0.6 screening
    threshold. Vectors are ``DIM``-dim float32 points around
    ``LABELS`` seeded centres; a near-duplicate vector is a base vector
    plus 1% noise. Batch ``i`` draws from its own stream, so any batch
    can be regenerated without the ones before it.
    """

    def __init__(
        self, seed: int, base_docs: int, base_vecs: int, batch_docs: int, batch_vecs: int
    ) -> None:
        self.seed = seed
        self.base_docs, self.base_vecs = base_docs, base_vecs
        self.batch_docs, self.batch_vecs = batch_docs, batch_vecs
        self._words = np.array(vocabulary(seed, 600, 3, 8))
        rv = rng(seed, _S_VECS)
        self._centres = rv.normal(0.0, 1.0, (LABELS, DIM))
        self._docs = self._random_docs(rng(seed, _S_DOCS), base_docs)
        self._vecs, self._labels = self._random_vecs(rv, base_vecs)

    def _random_docs(self, r: np.random.Generator, n: int) -> list[str]:
        lens = r.integers(30, 91, n)
        toks = self._words[r.integers(0, len(self._words), int(lens.sum()))]
        out, pos = [], 0
        for n_words in lens:
            out.append(" ".join(toks[pos:pos + n_words]))
            pos += n_words
        return out

    def _random_vecs(self, r: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
        labels = r.integers(0, LABELS, n)
        vecs = self._centres[labels] + r.normal(0.0, 0.6, (n, DIM))
        return vecs.astype(np.float32), labels.astype(np.int32)

    def base(self) -> tuple[pa.Table, pa.Table]:
        """``(documents, embeddings)`` of the base corpus."""
        return (
            self._doc_table(np.arange(self.base_docs), self._docs),
            self._vec_table(np.arange(self.base_vecs), self._vecs, self._labels),
        )

    def batch(self, i: int) -> tuple[pa.Table, pa.Table]:
        """``(documents, embeddings)`` of arriving batch ``i``; ids
        continue after the base corpus and every earlier batch."""
        r = rng(self.seed, _S_BATCH + i)
        n_dup = int(round(self.batch_docs * DUP_SHARE))
        docs = self._random_docs(r, self.batch_docs - n_dup)
        for src in r.integers(0, self.base_docs, n_dup):
            toks = self._docs[src].split(" ")
            toks[int(r.integers(0, len(toks)))] = str(self._words[r.integers(0, len(self._words))])
            docs.append(" ".join(toks))
        doc_ids = self.base_docs + i * self.batch_docs + np.arange(self.batch_docs)

        v_dup = int(round(self.batch_vecs * DUP_SHARE))
        vecs, labels = self._random_vecs(r, self.batch_vecs - v_dup)
        src = r.integers(0, self.base_vecs, v_dup)
        dup_vecs = self._vecs[src] + r.normal(0.0, 0.01, (v_dup, DIM)).astype(np.float32)
        vecs = np.concatenate([vecs, dup_vecs.astype(np.float32)])
        labels = np.concatenate([labels, self._labels[src]])
        vec_ids = self.base_vecs + i * self.batch_vecs + np.arange(self.batch_vecs)
        return self._doc_table(doc_ids, docs), self._vec_table(vec_ids, vecs, labels)

    @staticmethod
    def _doc_table(ids: np.ndarray, texts: list[str]) -> pa.Table:
        return pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)})

    @staticmethod
    def _vec_table(ids: np.ndarray, vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
        flat = pa.array(vecs.reshape(-1), pa.float32())
        return pa.table({
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, vecs.size + 1, DIM), pa.int32()), flat
            ),
            "label": pa.array(labels, pa.int32()),
        })

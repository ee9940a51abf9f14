"""The benchmark workloads.

Each workload is a closed loop run from one client process in one
Spark session: the next unit of work starts when the previous one has
returned. A unit of work (a *cycle*) is a list of *ops*, each a call
into the program's public functions, timed here from outside.

- ``mr_wordcount`` — the paper's own surface: one cycle is WRITE →
  MAP-REDUCE (word count, mapper/reducer as files) → READ through
  ``cli``. Work sits in ``mr``, ``sources`` and ``catalog``.
- ``lake_mix`` — the two Spark-native lanes, one after the other in
  each cycle:

  - :class:`OlapMix`, the relational lane: one pass runs eight
    registered queries, each fully materialized with ``collect()``.
    Work sits in ``plans`` and Spark SQL; nothing is written.
  - :class:`IngestScreen`, the curation lane: an arriving batch is
    screened against a MinHash index and probed against an IVF index,
    then appended to both. Work sits in ``operators``; appends
    (writes) interleave with probes (reads).

Correctness checks run outside every timed region; a failed check
counts the op whose output it checked as failed. Work that only serves
the benchmark (writing an arriving batch's input files, keeping outputs
for the checks, counting files) runs in :meth:`Workload.before` and
:meth:`Workload.after`, outside the cycle's wall time.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import gen
from spans import Tracer

MB = 1_000_000


@dataclass
class Op:
    cycle: int
    name: str
    seconds: float
    ok: bool = True


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    sizes: dict = field(default_factory=dict)


def median(xs: list[float]) -> float:
    return float(np.median(xs)) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    return float(np.quantile(xs, q)) if xs else 0.0


def tree_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, Spark's hidden ``.crc`` and
    ``_SUCCESS`` markers included — they are files the layout costs."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def pretouch(paths: list[str]) -> float:
    """Read every byte under ``paths`` once (page-cache warm); returns
    the seconds it took."""
    t = time.perf_counter()
    for root in paths:
        files = [root] if os.path.isfile(root) else [
            os.path.join(d, n) for d, _dirs, names in os.walk(root) for n in names
        ]
        for path in files:
            with open(path, "rb") as fh:
                while fh.read(1 << 20):
                    pass
    return time.perf_counter() - t


class Workload:
    """Base: subclasses fill :meth:`setup`, :meth:`cycle` and :meth:`check`."""

    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.pretouch_s = 0.0

    def timed(self, cycle: int, name: str, fn, ops: list[Op]):
        """Run one op, append its timing; exceptions count as failures."""
        self.tr.op = f"{cycle}.{name}"
        t = time.perf_counter()
        try:
            with self.tr.span(f"op.{name}"):
                out = fn()
        except Exception:  # an op failure is data, not a crash
            ops.append(Op(cycle, name, time.perf_counter() - t, ok=False))
            print(f"op {name} (cycle {cycle}) failed:", file=sys.stderr)
            traceback.print_exc()
            return None
        ops.append(Op(cycle, name, time.perf_counter() - t))
        return out

    def instrument(self) -> None:
        """Wrap the program functions whose spans the traced run needs."""

    def setup(self) -> None:
        raise NotImplementedError

    def before(self, i: int) -> None:
        """Untimed: prepare the inputs of cycle ``i``."""

    def cycle(self, i: int) -> list[Op]:
        """Timed: run cycle ``i`` and return its ops."""
        raise NotImplementedError

    def after(self, i: int, traced: bool) -> None:
        """Untimed: keep what :meth:`check` and the per-layer figures
        need from cycle ``i``."""

    def check(self, ops: list[Op]) -> None:
        """Mark ``ok=False`` on every op whose output is wrong."""

    def metrics(self, ops: list[Op]) -> dict[str, tuple[float, str]]:
        """Workload-specific end-to-end figures: name → (value, unit)."""
        return {}

    def layer_metrics(self, traced: set[int]) -> dict[str, float]:
        """Per-layer figures from the spans of ``traced`` cycles."""
        return {}


def _per_cycle(tr: Tracer, selfs: list[float], traced: set[int], name: str,
               attr: str = "self") -> float:
    """Median over traced cycles of the per-cycle sum of ``attr`` over
    spans named ``name`` (``self``: self time, ``dur``: wall time, or a
    count field)."""
    sums: dict[int, float] = {c: 0.0 for c in traced}
    for s, own in zip(tr.spans, selfs):
        if s.name != name or s.op is None:
            continue
        c = int(s.op.split(".")[0])
        if c in sums:
            sums[c] += own if attr == "self" else (s.dur if attr == "dur" else getattr(s, attr))
    return median(list(sums.values()))


# ---------------------------------------------------------------------------
# mr_wordcount
# ---------------------------------------------------------------------------


class MrWordcount(Workload):
    name = "mr_wordcount"

    def instrument(self) -> None:
        from map_reduce_framework_using_python_spark import cli
        from map_reduce_framework_using_python_spark.catalog import FileCatalog
        from map_reduce_framework_using_python_spark.mr.job import MRJob
        from map_reduce_framework_using_python_spark.sources import io

        for owner, attr, span in (
            (cli, "cmd_write", "cli.cmd_write"),
            (cli, "cmd_mapreduce", "cli.cmd_mapreduce"),
            (cli, "cmd_read", "cli.cmd_read"),
            (FileCatalog, "register", "catalog.register"),
            (FileCatalog, "lookup", "catalog.lookup"),
            (io, "read_text", "sources.read_text"),
            (io, "write_text", "sources.write_text"),
        ):
            self.tr.wrap(owner, attr, span)
        self.tr.wrap(MRJob, "save", "mr.job", spark_counts=True)

    def setup(self) -> None:
        from map_reduce_framework_using_python_spark.mr.job import (
            WORDCOUNT_MAPPER,
            WORDCOUNT_REDUCER,
        )

        w = self.ctx.work
        self.root = os.path.join(w, "dfs")
        self.mapper, self.reducer = os.path.join(w, "mapper.py"), os.path.join(w, "reducer.py")
        for path, src in ((self.mapper, WORDCOUNT_MAPPER), (self.reducer, WORDCOUNT_REDUCER)):
            with open(path, "w") as fh:
                fh.write(src)
        self.corpus = gen.zipf_corpus(self.ctx.seed, self.ctx.sizes["lines"])
        self.corpus_path = os.path.join(w, "corpus.txt")
        with open(self.corpus_path, "wb") as fh:
            fh.write(self.corpus)
        self.pretouch_s = pretouch([self.corpus_path])
        self.outputs: dict[int, tuple[str | None, str | None]] = {}
        self.written: dict[int, tuple[int, float]] = {}

    def cycle(self, i: int) -> list[Op]:
        from map_reduce_framework_using_python_spark import cli

        ops: list[Op] = []
        self.last: tuple[str | None, str | None] = (None, None)
        out_dir = os.path.join(self.ctx.work, f"read{i}")
        name = self.timed(i, "write", lambda: cli.cmd_write(self.corpus_path, root=self.root), ops)
        if name is None:
            return ops
        result = self.timed(
            i, "mapreduce",
            lambda: cli.cmd_mapreduce(self.mapper, self.reducer, name, root=self.root), ops,
        )
        read = self.timed(i, "read", lambda: cli.cmd_read(name, out_dir, root=self.root), ops)
        self.last = (result, read)
        return ops

    def after(self, i: int, traced: bool) -> None:
        if traced:
            self._count_written(i)
        self._snapshot(i, *self.last)

    def _count_written(self, i: int) -> None:
        from map_reduce_framework_using_python_spark.catalog import FileCatalog

        files, size = tree_stats(FileCatalog(self.root).path_for("corpus.txt"))
        self.written[i] = (files, size / len(self.corpus))

    def _snapshot(self, i: int, result: str | None, read: str | None) -> None:
        """Keep this cycle's outputs for :meth:`check` (the next cycle
        overwrites the stored result in place)."""
        from map_reduce_framework_using_python_spark.catalog import FileCatalog

        keep = os.path.join(self.ctx.work, f"check{i}")
        os.makedirs(keep)
        if result is not None:
            shutil.copytree(FileCatalog(self.root).path_for(result), os.path.join(keep, "mr"))
        self.outputs[i] = (
            os.path.join(keep, "mr") if result is not None else None,
            read,
        )

    def check(self, ops: list[Op]) -> None:
        expect = Counter(
            w for line in self.corpus.decode().splitlines()
            for w in line.lower().split(" ") if w and "," not in w
        )
        for op in ops:
            mr_dir, read = self.outputs[op.cycle]
            if op.name == "mapreduce" and op.ok:
                got: dict[str, int] = {}
                for part in sorted(os.listdir(mr_dir)):
                    if part.startswith("part-"):
                        with open(os.path.join(mr_dir, part)) as fh:
                            for line in fh:
                                k, v = line.rstrip("\n").split(",", 1)
                                got[k] = got.get(k, 0) + int(v)
                op.ok = got == expect
            elif op.name == "read" and op.ok:
                with open(read, "rb") as fh:
                    op.ok = fh.read() == self.corpus

    def metrics(self, ops):
        by = {n: [o.seconds for o in ops if o.name == n] for n in ("write", "mapreduce", "read")}
        mb = len(self.corpus) / MB
        return {
            "write_s_p50": (median(by["write"]), "s"),
            "mapreduce_s_p50": (median(by["mapreduce"]), "s"),
            "read_s_p50": (median(by["read"]), "s"),
            "mr_input_mb_per_s": (mb * len(by["mapreduce"]) / sum(by["mapreduce"]), "MB/s"),
            "corpus_mb": (mb, "MB"),
        }

    def layer_metrics(self, traced):
        from spans import self_times

        tr, selfs = self.tr, self_times(self.tr.spans)
        pc = lambda name, attr="self": _per_cycle(tr, selfs, traced, name, attr)  # noqa: E731
        written = [self.written[c] for c in traced if c in self.written]
        return {
            "cli.cmd_write_s": pc("cli.cmd_write"),
            "cli.cmd_mapreduce_s": pc("cli.cmd_mapreduce"),
            "cli.cmd_read_s": pc("cli.cmd_read"),
            "catalog.register_s": pc("catalog.register", "dur"),
            "catalog.lookup_s": pc("catalog.lookup", "dur"),
            "sources.read_text_s": pc("sources.read_text", "dur"),
            "sources.write_text_s": pc("sources.write_text", "dur"),
            "sources.files_written": median([f for f, _ in written]),
            "sources.bytes_written_per_input_byte": median([b for _, b in written]),
            "mr.job_s": pc("mr.job", "dur"),
            "mr.stages": pc("mr.job", "stages"),
            "mr.tasks": pc("mr.job", "tasks"),
            "mr.tasks_failed": pc("mr.job", "tasks_failed"),
        }


# ---------------------------------------------------------------------------
# lake_mix: OlapMix, IngestScreen and their composition
# ---------------------------------------------------------------------------

OLAP_QUERIES = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier",
    "q18_large_orders",
    "q_join_broadcast",
    "q_topk_per_group",
    "q_window_running",
    "q_event_sessionize",
)


class OlapMix(Workload):
    """Relational part of ``lake_mix``."""

    def setup(self) -> None:
        from map_reduce_framework_using_python_spark.plans import REGISTRY

        self.registry = REGISTRY
        seed, w = self.ctx.seed, self.ctx.work
        self.sf_dir = os.path.join(w, "tables")
        gen.write_tables(gen.tpch_tables(seed, self.ctx.sizes["sf"]), self.sf_dir)
        self.results: dict[tuple[int, str], tuple[list[str], list[tuple]]] = {}
        self.pretouch_s = pretouch([self.sf_dir])

    def cycle(self, i: int) -> list[Op]:
        ops: list[Op] = []
        for q in OLAP_QUERIES:
            def run(q=q):
                with self.tr.span("plans.build"):
                    df = self.registry[q].fn(self.spark, self.sf_dir)
                with self.tr.span("plans.exec", spark_counts=True):
                    rows = df.collect()
                return df.columns, [tuple(r) for r in rows]

            out = self.timed(i, q, run, ops)
            if out is not None:
                self.results[(i, q)] = out
        return ops

    def check(self, ops: list[Op]) -> None:
        import duckdb

        from map_reduce_framework_using_python_spark.oracle import canon_rows

        con = duckdb.connect()
        for name in os.listdir(self.sf_dir):
            table = name.removesuffix(".parquet")
            con.sql(
                f"CREATE VIEW {table} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, name)}')"
            )
        expect = {}
        for q in OLAP_QUERIES:
            rel = con.sql(self.registry[q].oracle)
            expect[q] = canon_rows([c.lower() for c in rel.columns], rel.fetchall())
        con.close()
        for op in ops:
            if op.ok and op.name in OLAP_QUERIES:
                cols, rows = self.results[(op.cycle, op.name)]
                op.ok = canon_rows([c.lower() for c in cols], rows) == expect[op.name]

    def metrics(self, ops):
        q = [o for o in ops if o.name in OLAP_QUERIES]
        return {"queries_per_s": (sum(o.ok for o in q) / sum(o.seconds for o in q), "1/s")}

    def layer_metrics(self, traced):
        from spans import self_times

        tr, selfs = self.tr, self_times(self.tr.spans)
        execs = [s for s in tr.spans if s.name == "plans.exec"]
        rows = {}
        for (c, _q), (_cols, r) in self.results.items():
            if c in traced:
                rows[c] = rows.get(c, 0) + len(r)
        return {
            "plans.build_s": _per_cycle(tr, selfs, traced, "plans.build", "dur"),
            "plans.exec_s": _per_cycle(tr, selfs, traced, "plans.exec", "dur"),
            "plans.jobs_per_query": median([s.jobs for s in execs]),
            "plans.tasks_per_query": median([s.tasks for s in execs]),
            "plans.rows_out": median(list(rows.values())),
        }


def shingles(text: str) -> set[str]:
    """Python twin of ``operators.dedup.word_shingles``: word 3-grams."""
    toks = text.split(" ")
    return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}


def jaccard(a: set[str], b: set[str]) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if a or b else 0.0


class IngestScreen(Workload):
    """Curation part of ``lake_mix``."""

    THRESHOLD = 0.6
    OPS = ("screen", "index_append", "ann_probe", "ann_append")

    def setup(self) -> None:
        from map_reduce_framework_using_python_spark.operators import ann_index, dedup_index

        self.dedup_index, self.ann_index = dedup_index, ann_index
        z, root = self.ctx.sizes, self.ctx.work
        self.stream = gen.IngestStream(self.ctx.seed, z["base_docs"], z["base_vecs"],
                                       z["batch_docs"], z["batch_vecs"])
        self.root = root
        self.corpus_dir = os.path.join(root, "corpus")
        self.vec_dir = os.path.join(root, "vectors")
        self.mh_path, self.ivf_path = os.path.join(root, "minhash"), os.path.join(root, "ivf")
        os.makedirs(self.corpus_dir)
        os.makedirs(self.vec_dir)
        docs, vecs = self.stream.base()
        pq.write_table(docs, os.path.join(self.corpus_dir, "base.parquet"))
        pq.write_table(vecs, os.path.join(self.vec_dir, "base.parquet"))
        # Python-side truth for the checks: every indexed doc's text
        # and every indexed vector, in arrival order.
        self.texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
        self.vecs = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False))
        self.vec_ids = vecs.column("vec_id").to_numpy()
        t = time.perf_counter()
        self.dedup_index.build_minhash_index(self.spark.read.parquet(self.corpus_dir), self.mh_path)
        t1 = time.perf_counter()
        self.ann_index.build_ivf_index(self.spark.read.parquet(self.vec_dir), self.ivf_path)
        self.build_s = (t1 - t, time.perf_counter() - t1)
        self.seen: dict[int, dict] = {}
        self.pretouch_s = pretouch([self.corpus_dir, self.vec_dir, self.mh_path, self.ivf_path])

    def _paths(self, i: int) -> tuple[str, str]:
        return (os.path.join(self.root, f"batch{i}_docs.parquet"),
                os.path.join(self.root, f"batch{i}_vecs.parquet"))

    def before(self, i: int) -> None:
        """Batch ``i`` arrives: its files are written."""
        bdocs, bvecs = self.stream.batch(i)
        bd_path, bv_path = self._paths(i)
        pq.write_table(bdocs, bd_path)
        pq.write_table(bvecs, bv_path)
        self.seen[i] = {"docs": bdocs, "vecs": bvecs}

    def cycle(self, i: int) -> list[Op]:
        from map_reduce_framework_using_python_spark.sources.io import write_parquet

        ops: list[Op] = []
        bd_path, bv_path = self._paths(i)
        spark, tr, dx, ax = self.spark, self.tr, self.dedup_index, self.ann_index
        batch = spark.read.parquet(bd_path)
        queries = spark.read.parquet(bv_path)
        out = self.seen[i]

        def screen():
            with tr.span("operators.dedup_index.probe_build"):
                df = dx.incremental_dedup_pairs(
                    spark, batch, spark.read.parquet(self.corpus_dir), self.mh_path,
                    threshold=self.THRESHOLD,
                )
            with tr.span("operators.dedup_index.probe_exec"):
                return df.collect()

        def index_append():
            with tr.span("operators.dedup_index.append"):
                dx.append_to_index(batch, self.mh_path)
            with tr.span("sources.write_parquet"):
                write_parquet(batch, self.corpus_dir, mode="append")

        def ann_probe():
            with tr.span("operators.ann_index.probe_build"):
                df = ax.ivf_probe_index_batch(spark, queries, self.ivf_path, k=10)
            with tr.span("operators.ann_index.probe_exec"):
                return df.collect()

        def ann_append():
            with tr.span("operators.ann_index.append"):
                ax.append_to_ivf_index(queries, self.ivf_path)

        out["pairs"] = self.timed(i, "screen", screen, ops)
        self.timed(i, "index_append", index_append, ops)
        out["nn"] = self.timed(i, "ann_probe", ann_probe, ops)
        self.timed(i, "ann_append", ann_append, ops)
        return ops

    def after(self, i: int, traced: bool) -> None:
        b = self.seen[i]
        b["cached"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if traced:
            b["mh_tree"] = tree_stats(self.mh_path)
            b["ivf_tree"] = tree_stats(self.ivf_path)

    def check(self, ops: list[Op]) -> None:
        """Replays the stream in Python: exact Jaccard for every emitted
        pair (precision must be 1.0) and brute-force pairs for recall;
        numpy cosines for every returned neighbour (must match) and an
        exact top-10 for recall@10."""
        sh = {d: shingles(t) for d, t in self.texts.items()}
        inverted: dict[str, set[int]] = {}
        for d, s in sh.items():
            for g in s:
                inverted.setdefault(g, set()).add(d)
        vecs, vec_ids = self.vecs.astype(np.float64), self.vec_ids
        bad = set()
        for i in sorted(self.seen):
            b = self.seen[i]
            ids = b["docs"].column("doc_id").to_pylist()
            texts = b["docs"].column("text").to_pylist()
            b_sh = {d: shingles(t) for d, t in zip(ids, texts)}
            if b.get("pairs") is not None:
                truth = set()
                for d, s in b_sh.items():
                    cands = set().union(*(inverted.get(g, ()) for g in s)) if s else set()
                    truth |= {(d, c) for c in cands if jaccard(s, sh[c]) >= self.THRESHOLD}
                emitted = {(r["batch_doc"], r["corpus_doc"]): r["jaccard"] for r in b["pairs"]}
                exact = {p: jaccard(b_sh[p[0]], sh[p[1]]) for p in emitted}
                good = [p for p, j in exact.items() if j >= self.THRESHOLD]
                b["precision"] = len(good) / len(emitted) if emitted else 1.0
                b["recall"] = len(set(good) & truth) / len(truth) if truth else 1.0
                b["pairs_out"] = len(emitted)
                if b["precision"] != 1.0 or any(
                    abs(emitted[p] - round(exact[p], 4)) > 1e-4 for p in emitted
                ):
                    bad.add((i, "screen"))
            # The batch is now part of the indexed corpus.
            for d, s in b_sh.items():
                sh[d] = s
                for g in s:
                    inverted.setdefault(g, set()).add(d)
            qv = np.stack(b["vecs"].column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
            q_ids = b["vecs"].column("vec_id").to_numpy()
            if b.get("nn") is not None:
                unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
                qunit = qv / np.linalg.norm(qv, axis=1, keepdims=True)
                cos = qunit @ unit.T
                row_of = {int(q): k for k, q in enumerate(q_ids)}
                col_of = {int(v): k for k, v in enumerate(vec_ids)}
                got: dict[int, set[int]] = {}
                for r in b["nn"]:
                    want = cos[row_of[r["q_id"]], col_of[r["vec_id"]]]
                    if abs(r["cosine"] - want) > 2e-6:
                        bad.add((i, "ann_probe"))
                    got.setdefault(r["q_id"], set()).add(r["vec_id"])
                top = np.argsort(-cos, axis=1, kind="stable")[:, :10]
                b["recall_at_10"] = float(np.mean([
                    len(got.get(int(q), set()) & set(vec_ids[top[k]].tolist())) / 10
                    for k, q in enumerate(q_ids)
                ]))
            vecs = np.concatenate([vecs, qv])
            vec_ids = np.concatenate([vec_ids, q_ids])
        for op in ops:
            if (op.cycle, op.name) in bad:
                op.ok = False

    def metrics(self, ops):
        ops = [o for o in ops if o.name in self.OPS]
        per = lambda name: median([o.seconds for o in ops if o.name == name])  # noqa: E731
        appends: dict[int, float] = {}
        for o in ops:
            if o.name in ("index_append", "ann_append"):
                appends[o.cycle] = appends.get(o.cycle, 0.0) + o.seconds
        n_docs = len({o.cycle for o in ops}) * self.ctx.sizes["batch_docs"]
        return {
            "docs_per_s": (n_docs / sum(o.seconds for o in ops), "1/s"),
            "screen_s_p50": (per("screen"), "s"),
            "ann_probe_s_p50": (per("ann_probe"), "s"),
            "index_append_s_p50": (median(list(appends.values())), "s"),
        }

    def layer_metrics(self, traced):
        from spans import self_times

        tr, selfs = self.tr, self_times(self.tr.spans)
        pc = lambda name: _per_cycle(tr, selfs, traced, name, "dur")  # noqa: E731
        seen = [self.seen[c] for c in sorted(traced) if c in self.seen]
        last = seen[-1] if seen else {}
        dx, ax = "operators.dedup_index", "operators.ann_index"
        return {
            f"{dx}.build_s": self.build_s[0],
            f"{dx}.probe_build_s": pc(f"{dx}.probe_build"),
            f"{dx}.probe_exec_s": pc(f"{dx}.probe_exec"),
            f"{dx}.append_s": pc(f"{dx}.append"),
            f"{dx}.pairs_out": median([b.get("pairs_out", 0) for b in seen]),
            f"{dx}.precision": median([b.get("precision", 0.0) for b in seen]),
            f"{dx}.recall": median([b.get("recall", 0.0) for b in seen]),
            f"{dx}.index_files": last.get("mh_tree", (0, 0))[0],
            f"{dx}.index_bytes": last.get("mh_tree", (0, 0))[1],
            f"{dx}.cached_relations": last.get("cached", 0),
            f"{ax}.build_s": self.build_s[1],
            f"{ax}.probe_build_s": pc(f"{ax}.probe_build"),
            f"{ax}.probe_exec_s": pc(f"{ax}.probe_exec"),
            f"{ax}.append_s": pc(f"{ax}.append"),
            f"{ax}.recall_at_10": median([b.get("recall_at_10", 0.0) for b in seen]),
            f"{ax}.index_files": last.get("ivf_tree", (0, 0))[0],
            "sources.write_parquet_s": pc("sources.write_parquet"),
        }


class LakeMix(Workload):
    """The relational and the curation lane as one workload: a cycle is
    one pass of the eight queries followed by one arriving batch. The two
    Spark-native lanes share a session, so the set-up (session, JIT
    warm-up) is paid once for both; their ops stay apart in every
    per-op figure."""

    name = "lake_mix"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.parts = (OlapMix(ctx), IngestScreen(ctx))

    def setup(self) -> None:
        for part in self.parts:
            part.setup()
        self.pretouch_s = sum(part.pretouch_s for part in self.parts)

    def before(self, i: int) -> None:
        for part in self.parts:
            part.before(i)

    def cycle(self, i: int) -> list[Op]:
        return [op for part in self.parts for op in part.cycle(i)]

    def after(self, i: int, traced: bool) -> None:
        for part in self.parts:
            part.after(i, traced)

    def check(self, ops: list[Op]) -> None:
        for part in self.parts:
            part.check(ops)

    def metrics(self, ops):
        return {k: v for part in self.parts for k, v in part.metrics(ops).items()}

    def layer_metrics(self, traced):
        return {k: v for part in self.parts for k, v in part.layer_metrics(traced).items()}


WORKLOADS = {w.name: w for w in (MrWordcount, LakeMix)}

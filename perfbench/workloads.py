"""The benchmark workloads.

Each workload is one closed-loop client in one process: it issues its next
call into the engine only after the previous one returned. A workload has a
``prepare`` step (part of set-up), one cold pass, then recorded warm passes
until ``seconds`` have gone by and at least the workload's ``min_passes``
have run (``graph_iterative`` first runs two unrecorded warm-up passes). On
a 4-vCPU machine the floor binds, so every run does the same work whatever
the host's speed that minute. A *pass* is the workload's unit of repeated
work:

- ``graph_iterative``: every query of the list once;
- ``online_mixed``: one block of point ops with a fixed op mix
  (``PointMixed``), then one micro-batch into both streaming state stores
  (``StreamIngest``).

Every output is checked: batch queries against their DuckDB oracle (once
per run, untimed), point reads against the benchmark's own adjacency model,
streaming state against a union-find and two duplicate-flag rules. A wrong
output counts as a failed op; it does not stop the run.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

import datagen
from tracing import cached_rdds, span_work

GRAPH_QUERIES = ["g_kcore", "g_label_propagation", "g_bfs_depths"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def percentile(xs, q):
    """Nearest-rank percentile ``q`` (0-100) of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


class Run:
    """State shared by set-up, the workload and the report of one run."""

    def __init__(self, args, tracer, data_dir: str, work_dir: str) -> None:
        self.seed = args.seed
        self.seconds = args.seconds
        self.smoke = args.smoke
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict[str, tuple[float, str]] = {}
        self.passes: list = []  # (span, traced) of each warm pass
        self.warm_s: list[float] = []  # every warm pass, in run order
        self.cached: list[tuple[int, int]] = []  # cached RDDs after traced passes

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        print(f"[perfbench] FAILED {what}", file=sys.stderr, flush=True)

    def span(self, name: str, traced: bool = True):
        return self.tracer.span(name) if traced else nullcontext()

    def execute(self, wl) -> None:
        """Cold pass, then warm passes until ``seconds`` have gone by and
        ``wl.min_passes`` have run. A traced run alternates traced and
        untraced warm passes, so the tracing overhead is measured inside
        one process."""
        first = wl.first(self)
        traced_t, plain_t = [], []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < wl.min_passes or time.perf_counter() < t_end:
            traced = self.tracer.enabled and i % 2 == 0
            with self.span("pass", traced) as sp:
                t = wl.one_pass(self, i, traced)
            if t is None:  # inputs exhausted
                break
            (traced_t if traced else plain_t).append(t)
            self.warm_s.append(t)
            self.passes.append((sp, traced))
            if traced:
                self.cached.append(cached_rdds(self.spark))
            i += 1
        passes = traced_t if self.tracer.enabled else plain_t
        items = wl.items()
        self.e2e["first_pass_s"] = first
        self.e2e["pass_s"] = median(passes)
        self.report.update({f"median_s.{k}": (median(v), "s") for k, v in items.items()})
        self.e2e["query_geomean_s"] = geomean([median(v) for v in items.values()])
        self.report["ops_per_s"] = (
            sum(len(v) for v in items.values()) / sum(traced_t + plain_t), "1/s")
        if self.tracer.enabled:
            self.layer["trace.pass_s"] = median(traced_t)
            self.layer["trace.overhead_s"] = median(traced_t) - median(plain_t) if plain_t else 0.0
        wl.finish(self)


# -- batch query workloads ---------------------------------------------------


class BatchQueries:
    """Passes over a fixed query list; each query's DataFrame is forced with
    the noop sink, so the whole plan runs and nothing is collected."""

    # warm passes keep speeding up for the first few (on local[2] about
    # 3.7, 3.0, 2.8, 2.7 s), so two of them run unrecorded, and the number
    # of recorded passes must not depend on the host's speed
    warmup_passes = 2
    min_passes = 4

    def __init__(self, names: list[str]) -> None:
        self.names = names

    def prepare(self, run: Run) -> None:
        if run.smoke:
            self.names = self.names[:2]
        self.times: dict[str, list[float]] = {n: [] for n in self.names}

    def _query(self, run: Run, name: str, traced: bool):
        from kinbaku_spark.queries import QUERIES

        run.attempted += 1
        try:
            t0 = time.perf_counter()
            with run.span(f"queries.{name}.build", traced):
                df = QUERIES[name](run.spark, run.data_dir)
            with run.span(f"queries.{name}.exec", traced):
                df.write.format("noop").mode("overwrite").save()
            return df, time.perf_counter() - t0
        except Exception:  # a failing query is a failed op, not a crash
            run.fail(f"{name}: {traceback.format_exc(limit=2)}")
            return None, None

    def first(self, run: Run) -> float:
        """Cold pass: pays the derived-state builds. Then, outside the
        timing, each output is checked against its oracle, and
        ``warmup_passes`` passes run unrecorded."""
        from kinbaku_spark.queries import ORACLES
        from oracle import Oracle

        total = 0.0
        outputs = []
        for name in self.names:
            df, t = self._query(run, name, True)
            if df is not None:
                total += t
                outputs.append((name, df))
        oracle = Oracle(run.data_dir)
        for name, df in outputs:
            with run.span("check"):
                try:
                    bad = oracle.mismatch(ORACLES[name], df.toPandas())
                except Exception:
                    bad = traceback.format_exc(limit=2)
            if bad:
                run.fail(f"{name} output: {bad}")
        oracle.close()
        for _ in range(self.warmup_passes):
            self.one_pass(run, -1, False, record=False)
        return total

    def one_pass(self, run: Run, i: int, traced: bool, record: bool = True) -> float:
        total = 0.0
        for name in self.names:
            _, t = self._query(run, name, traced)
            if t is not None:
                total += t
                if record:
                    self.times[name].append(t)
        return total

    def items(self) -> dict[str, list[float]]:
        return self.times

    def finish(self, run: Run) -> None:
        pass

    def layer_metrics(self, run: Run, work) -> None:
        build_s, build_jobs, exec_s = [], [], []
        for sp, traced in run.passes:
            if not traced:
                continue
            kids = [s for s in run.tracer.spans if s.parent == sp.span_id]
            builds = [s for s in kids if s.name.endswith(".build")]
            build_s.append(sum(s.seconds for s in builds))
            build_jobs.append(sum(len(span_work(run.tracer, work, s).jobs) for s in builds))
            exec_s.append(sum(s.seconds for s in kids if s.name.endswith(".exec")))
        run.layer["queries.build_s"] = median(build_s)
        run.layer["queries.build_jobs"] = median(build_jobs)
        run.layer["queries.exec_s"] = median(exec_s)


# -- Graph facade point ops --------------------------------------------------


class PointMixed:
    """Zipf-skewed point reads beside a small share of edge writes on a
    preloaded ``Graph`` over the supplier→part graph."""

    def prepare(self, run: Run) -> None:
        from kinbaku_spark import Graph
        from kinbaku_spark.sources.tables import supplier_part_edges

        with run.span("sources.derive_graph"):
            edges = supplier_part_edges(run.spark, run.data_dir)
        with run.span("graph.preload"):
            self.g = Graph.from_edges(edges, preload=True)
        # the benchmark's own adjacency model, from the generated lineitem
        # table without the engine
        li = pq.read_table(f"{run.data_dir}/lineitem.parquet", columns=["l_suppkey", "l_partkey"])
        self.out: dict[str, set] = {}
        self.inc: dict[str, set] = {}
        for s, p in set(zip(li.column(0).to_pylist(), li.column(1).to_pylist())):
            self.out.setdefault(f"S{s}", set()).add(f"P{p}")
            self.inc.setdefault(f"P{p}", set()).add(f"S{s}")
        self.nodes = set(self.out) | set(self.inc)
        n_blocks = 4 if run.smoke else 200
        self.blocks = datagen.point_blocks(run.seed, n_blocks, sorted(self.out), sorted(self.inc))
        self.pick = np.random.default_rng([run.seed, 4])
        self.lat: dict[str, list[float]] = {op: [] for op in datagen.POINT_BLOCK}
        self.op_spans: list = []

    def _expect(self, op, a, b):
        from kinbaku_spark.exceptions import NodeNotFound

        if op == "node":
            return {"key": a} if a in self.nodes else NodeNotFound
        if op == "has_edge":
            return b in self.out.get(a, ())
        if op == "neighbors":
            return sorted(self.out.get(a, ()))
        if op == "predecessors":
            return sorted(self.inc.get(a, ()))
        return None

    def _call(self, op, a, b):
        from kinbaku_spark.exceptions import NodeNotFound

        g = self.g
        if op == "node":
            try:
                return {"key": g.node(a)["key"]}
            except NodeNotFound:
                return NodeNotFound
        if op == "has_edge":
            return g.has_edge(a, b)
        if op == "neighbors":
            return list(g.neighbors(a))
        if op == "predecessors":
            return list(g.predecessors(a))
        if op == "add_edge":
            g.add_edge(a, b)
            self.out.setdefault(a, set()).add(b)
            self.inc.setdefault(b, set()).add(a)
            self.nodes.update((a, b))
        elif op == "remove_edge":
            g.remove_edge(a, b)
            self.out[a].discard(b)
            self.inc[b].discard(a)
        return None

    def _block(self, run: Run, block, record: bool, traced: bool) -> float:
        total = 0.0
        for op, a, b in block:
            if op == "remove_edge":
                # a live edge of the source key, chosen by the seed
                if not self.out.get(a):
                    a = next(k for k in sorted(self.out) if self.out[k])
                live = sorted(self.out[a])
                b = live[int(self.pick.integers(0, len(live)))]
            want = self._expect(op, a, b)
            run.attempted += 1
            try:
                with run.span(f"graph.{op}", traced) as sp:
                    t0 = time.perf_counter()
                    got = self._call(op, a, b)
                    dt = time.perf_counter() - t0
            except Exception:
                run.fail(f"{op}({a},{b}): {traceback.format_exc(limit=2)}")
                continue
            if got != want:
                run.fail(f"{op}({a},{b}) returned a wrong result")
            total += dt
            if record:
                self.lat[op].append(dt)
            if sp is not None:
                self.op_spans.append((op, sp))
        return total

    def first(self, run: Run) -> float:
        return self._block(run, self.blocks[0], False, run.tracer.enabled)

    def one_pass(self, run: Run, i: int, traced: bool) -> float | None:
        if i + 1 >= len(self.blocks):
            return None
        return self._block(run, self.blocks[i + 1], True, traced)

    def items(self) -> dict[str, list[float]]:
        return self.lat

    def finish(self, run: Run) -> None:
        reads = [x for op in datagen.READ_OPS for x in self.lat[op]]
        writes = [x for op in datagen.WRITE_OPS for x in self.lat[op]]
        run.report["read_p50_ms"] = (percentile(reads, 50) * 1e3, "ms")
        run.report["read_p95_ms"] = (percentile(reads, 95) * 1e3, "ms")
        run.report["write_p50_ms"] = (percentile(writes, 50) * 1e3, "ms")
        run.report["point_reads"] = (len(reads), "count")
        run.report["point_writes"] = (len(writes), "count")

    def layer_metrics(self, run: Run, work) -> None:
        by_op: dict[str, list[float]] = {}
        jobs: dict[str, list[int]] = {}
        for op, sp in self.op_spans:
            by_op.setdefault(op, []).append(sp.seconds * 1e3)
            jobs.setdefault(op, []).append(len(span_work(run.tracer, work, sp).jobs))
        for op in datagen.POINT_BLOCK:
            run.layer[f"graph.op_ms.{op}"] = median(by_op.get(op, []))
        read_jobs = [j for op in datagen.READ_OPS for j in jobs.get(op, [])]
        if read_jobs:
            run.layer["graph.kv_hit_ratio"] = read_jobs.count(0) / len(read_jobs)
            run.layer["graph.jobs_per_read"] = sum(read_jobs) / len(read_jobs)


# -- streaming micro-batches -------------------------------------------------


class StreamIngest:
    """Micro-batches of customer→order edges through incremental CC and of
    documents through MinHash dedup, into versioned state on local disk."""

    def prepare(self, run: Run) -> None:
        from kinbaku_spark.sources.tables import customer_order_edges, load_table

        spark = run.spark
        n_batches = 4 if run.smoke else 40
        with run.span("sources.derive_graph"):
            edges = sorted(
                (r[0], r[1])
                for r in customer_order_edges(spark, run.data_dir).select("src", "dst").collect()
            )
        docs = [
            (r[0], r[1])
            for r in load_table(spark, run.data_dir, "documents").select("doc_id", "text").collect()
        ]
        docs = sorted(docs + stream_copies(run.seed, docs))
        e_part = datagen.batch_split(run.seed, len(edges), n_batches)
        d_part = datagen.batch_split(run.seed + 1, len(docs), n_batches)
        self.batches = [
            ([e for e, p in zip(edges, e_part) if p == b],
             [x for x, p in zip(docs, d_part) if p == b])
            for b in range(n_batches)
        ]
        self.state_dir = os.path.join(run.work_dir, "state")
        shutil.rmtree(self.state_dir, ignore_errors=True)
        self.cc_dir = os.path.join(self.state_dir, "cc")
        self.index_dir = os.path.join(self.state_dir, "dedup_index")
        self.flags_dir = os.path.join(self.state_dir, "dedup_flags")
        self.times = {"cc_ingest_batch": [], "dedup_ingest_batch": []}
        self.ingested_e: list = []
        self.ingested_d: list = []
        self.rows = 0
        self.input_bytes = 0
        self.ingest_s = 0.0

    def _batch(self, run: Run, b: int, traced: bool, record: bool) -> float | None:
        from kinbaku_spark.streaming import cc_ingest_batch, dedup_ingest_batch

        if b >= len(self.batches):
            return None
        eb, db = self.batches[b]
        edf = run.spark.createDataFrame(eb, "src string, dst string")
        ddf = run.spark.createDataFrame(db, "doc_id long, text string")
        calls = (
            ("cc_ingest_batch", lambda: cc_ingest_batch(edf, self.cc_dir)),
            ("dedup_ingest_batch", lambda: dedup_ingest_batch(
                ddf, self.index_dir, self.flags_dir, batch_id=b)),
        )
        total = 0.0
        for fn, call in calls:
            run.attempted += 1
            try:
                with run.span(f"streaming.{fn}", traced):
                    t0 = time.perf_counter()
                    call()
                    dt = time.perf_counter() - t0
            except Exception:
                run.fail(f"{fn} batch {b}: {traceback.format_exc(limit=2)}")
                continue
            total += dt
            if record:
                self.times[fn].append(dt)
        self.ingested_e += eb
        self.ingested_d += db
        self.rows += len(eb) + len(db)
        self.input_bytes += sum(len(s) + len(d) for s, d in eb)
        self.input_bytes += sum(8 + len(t.encode()) for _, t in db)
        self.ingest_s += total
        return total

    def first(self, run: Run) -> float:
        return self._batch(run, 0, run.tracer.enabled, False)

    def one_pass(self, run: Run, i: int, traced: bool) -> float | None:
        return self._batch(run, i + 1, traced, True)

    def items(self) -> dict[str, list[float]]:
        return self.times

    def finish(self, run: Run) -> None:
        from kinbaku_spark.streaming import cc_read_state

        run.report["batch_p50_s"] = (
            median([a + b for a, b in zip(*self.times.values())]), "s")
        run.report["ingest_rows_per_s"] = (self.rows / self.ingest_s, "1/s")
        run.attempted += 2
        with run.span("check"):
            want = union_find_labels(self.ingested_e)
            got = {r[0]: r[1] for r in cc_read_state(run.spark, self.cc_dir).collect()}
            flags = run.spark.read.parquet(self.flags_dir).select("doc_id", "is_dup").collect()
        if got != want:
            run.fail(f"cc labels differ on {len(set(got.items()) ^ set(want.items()))} keys")
        bad = dup_flag_errors(self.ingested_d, [(r[0], r[1]) for r in flags])
        if bad:
            run.fail(f"dedup flags: {bad}")

    def layer_metrics(self, run: Run, work) -> None:
        run.layer["streaming.cc_batch_s"] = median(self.times["cc_ingest_batch"])
        run.layer["streaming.dedup_batch_s"] = median(self.times["dedup_ingest_batch"])
        jobs = [
            sum(len(span_work(run.tracer, work, s).jobs) for s in run.tracer.spans
                if s.parent == sp.span_id and s.name.startswith("streaming."))
            for sp, traced in run.passes if traced
        ]
        run.layer["streaming.jobs_per_batch"] = median(jobs)
        state_bytes = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, files in os.walk(self.state_dir) for f in files
        )
        run.layer["streaming.state_bytes_per_input_byte"] = state_bytes / max(1, self.input_bytes)


def stream_copies(seed: int, docs: list[tuple[int, str]], share: float = 0.1):
    """Exact copies of ``share`` of the documents under new ids."""
    rng = np.random.default_rng([seed, 5])
    base = max(d for d, _ in docs) + 1
    picks = rng.choice(len(docs), size=int(len(docs) * share), replace=False)
    return [(base + i, docs[j][1]) for i, j in enumerate(sorted(picks))]


def union_find_labels(edges) -> dict[str, str]:
    """key -> smallest key of its weakly connected component."""
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    return {k: find(k) for k in parent}


def dup_flag_errors(docs, flags) -> str | None:
    """Every ingested document has exactly one flag row, and the flags hold
    both ways:

    - a repeat of a text whose earlier occurrence was kept (flagged new) is
      flagged a duplicate: the kept document's band keys are in the index,
      or on a lower id in the same batch;
    - a document flagged a duplicate has a copy ingested before it: the
      same text, or one with the same ``datagen.text_root``. Unrelated
      generated texts share almost no word 3-grams, so MinHash never pairs
      them.

    ``docs`` is in ingest order; within a batch the lower id comes first."""
    seen: dict[int, bool] = {}
    for doc_id, is_dup in flags:
        if doc_id in seen:
            return f"doc {doc_id} flagged twice"
        seen[doc_id] = is_dup
    if set(seen) != {d for d, _ in docs}:
        return f"{len(seen)} flag rows for {len(docs)} documents"
    kept: set[str] = set()
    roots: set[str] = set()
    for doc_id, text in docs:
        root = datagen.text_root(text)
        if seen[doc_id] and root not in roots:
            return f"doc {doc_id} is flagged but has no earlier copy"
        if text in kept and not seen[doc_id]:
            return f"doc {doc_id} repeats a kept text but is not flagged"
        if not seen[doc_id]:
            kept.add(text)
        roots.add(root)
    return None


# -- composition -------------------------------------------------------------


class Sequence:
    """Runs its parts one after another in every pass."""

    # every pass adds to the graph's write lineage and the streaming state,
    # so each costs more than the one before; a fixed count keeps the work
    # of a run the same, and three samples of each op give a median
    min_passes = 3

    def __init__(self, *parts) -> None:
        self.parts = parts

    def prepare(self, run: Run) -> None:
        for p in self.parts:
            p.prepare(run)

    def first(self, run: Run) -> float:
        return sum(p.first(run) for p in self.parts)

    def one_pass(self, run: Run, i: int, traced: bool) -> float | None:
        total = 0.0
        for p in self.parts:
            t = p.one_pass(run, i, traced)
            if t is None:
                return None
            total += t
        return total

    def items(self) -> dict[str, list[float]]:
        return {k: v for p in self.parts for k, v in p.items().items()}

    def finish(self, run: Run) -> None:
        for p in self.parts:
            p.finish(run)

    def layer_metrics(self, run: Run, work) -> None:
        for p in self.parts:
            p.layer_metrics(run, work)


WORKLOADS = {
    "graph_iterative": lambda: BatchQueries(GRAPH_QUERIES),
    "online_mixed": lambda: Sequence(PointMixed(), StreamIngest()),
}

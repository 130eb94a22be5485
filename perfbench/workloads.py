"""The three workloads. Each one builds its inputs from the seed before the
session exists, then offers ``run_pass()``: one complete pass over its
inputs, every op timed inside a span and checked by its gate outside the
span.

Closed loop, one client: each op starts when the previous one is checked.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import gates
import inputs
from inputs import dir_bytes, file_sizes


@dataclass
class Op:
    name: str
    seconds: float
    ok: bool
    detail: str


@dataclass
class PassResult:
    ops: list[Op] = field(default_factory=list)
    serve_s: list[float] = field(default_factory=list)
    # per-layer observations, filled only when tracing
    layer: dict[str, float] = field(default_factory=dict)
    span: object = None  # the pass's own span


def _run_op(tracer, name: str, layer: str, fn, check) -> Op:
    """Time fn() inside a span, then gate its result outside the span. An
    op that raises counts as failed; the run goes on with the next op."""
    try:
        with tracer.span(name, layer) as s:
            out = fn()
        ok, detail = check(out)
    except Exception as e:  # one failed op must not end the run
        return Op(name, 0.0, False, f"{type(e).__name__}: {e}"[:300])
    return Op(name, s.seconds, ok, detail)


# --- mr-text ---------------------------------------------------------------


def _instrumented(mapf, reducef, acc):
    """Map/Reduce wrappers that count calls, records and time into Spark
    accumulators. Nested functions, so they are pickled by value and the
    executors need nothing but the shipped package."""
    map_calls, map_s, map_out, red_calls, red_s, red_in = acc

    def traced_map(filename, contents):
        t0 = time.perf_counter()
        out = list(mapf(filename, contents))
        map_s.add(time.perf_counter() - t0)
        map_calls.add(1)
        map_out.add(len(out))
        return out

    def traced_reduce(key, values):
        t0 = time.perf_counter()
        out = reducef(key, values)
        red_s.add(time.perf_counter() - t0)
        red_calls.add(1)
        red_in.add(len(values))
        return out

    return traced_map, traced_reduce


class MrText:
    """The paper's own jobs (wc, indexer, credit) through mr_run_to_text."""

    name = "mr-text"
    WARMUP_PASSES = 1
    APPS = ("wc", "indexer", "credit")
    ACC = ("map_calls", "map_s", "map_records_out", "reduce_calls", "reduce_s", "reduce_values_in")

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inp = inputs.make_mr_text(work, seed)
        self.input_bytes = self.inp.input_bytes
        self._n = 0

    def start(self, spark, tracer) -> None:
        from mapreduce_paper_implementation_spark.apps import APPS

        self.spark, self.tracer = spark, tracer
        self.acc = None
        self.fns = dict(APPS)
        if tracer.enabled:
            sc = spark.sparkContext
            self.acc = [sc.accumulator(0.0 if k.endswith("_s") else 0) for k in self.ACC]
            self.fns = {k: _instrumented(m, r, self.acc) for k, (m, r) in APPS.items()}

    def _op(self, app: str) -> Op:
        from mapreduce_paper_implementation_spark.mr import mr_run_to_text

        self._n += 1
        out_dir = os.path.join(self.work, "mr_out", f"{self._n:05d}-{app}")
        src = self.inp.credit_glob if app == "credit" else self.inp.text_glob
        mapf, reducef = self.fns[app]

        def check(_):
            lines = []
            for f in sorted(os.listdir(out_dir)):
                if f.startswith("part-"):
                    with open(os.path.join(out_dir, f), encoding="utf-8") as fh:
                        lines.extend(fh.read().splitlines())
            return gates.mr_text(lines, self.inp.expected[app])

        op = _run_op(
            self.tracer, f"mr.{app}", "mr",
            lambda: mr_run_to_text(self.spark, mapf, reducef, src, out_dir),
            check,
        )
        self.out_bytes = dir_bytes(out_dir)
        shutil.rmtree(out_dir, ignore_errors=True)
        return op

    def run_pass(self) -> PassResult:
        res = PassResult()
        out_bytes = 0
        for app in self.APPS:
            res.ops.append(self._op(app))
            out_bytes += self.out_bytes
        res.layer["sources.output_mb"] = out_bytes / 1e6
        return res

    def accumulators(self) -> dict[str, float]:
        if self.acc is None:
            return {}
        return {f"apps.{k}": a.value for k, a in zip(self.ACC, self.acc)}


# --- curation --------------------------------------------------------------


class Curation:
    """Heavy corpus queries from the manifest, each drained to the driver."""

    name = "curation"
    # Catalyst's planning code, which dominates these small queries, keeps
    # getting faster under the JIT for about three passes.
    WARMUP_PASSES = 2

    def __init__(self, work: str, seed: int):
        self.inp = inputs.make_curation(work, seed)
        self.input_bytes = self.inp.input_bytes
        self.last_pairs: list[tuple] = []

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def _check(self, q: str, pdf):
        if q == "q20_ngram_jaccard":
            self.last_pairs = list(pdf[["id_a", "id_b", "jaccard"]].itertuples(index=False))
            return gates.jaccard_pairs(self.last_pairs, self.inp.pair_jaccard)
        if q == "q41_dedup_clusters":
            rows = pdf[["component", "n_members", "members"]].itertuples(index=False)
            return gates.dedup_clusters(list(rows), self.inp.pair_jaccard)
        return gates.oracle_frame(pdf, self.inp.oracle[q])

    def _op(self, q: str) -> Op:
        from mapreduce_paper_implementation_spark.plans.queries import QUERIES
        from mapreduce_paper_implementation_spark.testing.compare import spark_to_pandas

        return _run_op(
            self.tracer, f"plans.{q}", "plans",
            lambda: spark_to_pandas(QUERIES[q](self.spark, self.inp.data_dir)),
            lambda pdf: self._check(q, pdf),
        )

    def run_pass(self) -> PassResult:
        res = PassResult(ops=[self._op(q) for q in inputs.CURATION_QUERIES])
        if self.tracer.enabled:
            recall, precision = gates.dedup_ratios(self.last_pairs, self.inp.planted)
            res.layer["operators.dedup_recall"] = recall
            res.layer["operators.dedup_precision"] = precision
        return res


# --- ingest ----------------------------------------------------------------


class Ingest:
    """The composed daily-ingest topology, one batch per op, with a serving
    read after each batch. Each pass starts from empty state."""

    name = "ingest"
    WARMUP_PASSES = 1
    MAINTAINERS = ("seen", "index", "postings", "qhist")

    def __init__(self, work: str, seed: int):
        self.work = work
        self.inp = inputs.make_ingest(work, seed)
        self.input_bytes = self.inp.input_bytes
        self._n = 0

    def start(self, spark, tracer) -> None:
        self.spark, self.tracer = spark, tracer

    def _topology(self, root: str) -> dict:
        from mapreduce_paper_implementation_spark.streaming.bloom import SeenKeysMaintainer
        from mapreduce_paper_implementation_spark.streaming.dedup_index import (
            DedupIndexMaintainer,
        )
        from mapreduce_paper_implementation_spark.streaming.policy import (
            MaintainedIngest,
            MaintenancePolicy,
        )
        from mapreduce_paper_implementation_spark.streaming.rollup import (
            postings_maintainer,
            quality_hist_maintainer,
        )

        chain = MaintenancePolicy(compact_after_n_deltas=2)
        versioned = MaintenancePolicy(vacuum_keep=1)
        m = {
            "seen": MaintainedIngest(
                SeenKeysMaintainer(self.spark, f"{root}/seen", ["content_hash"]), chain
            ),
            "index": MaintainedIngest(
                DedupIndexMaintainer(self.spark, f"{root}/index", threshold=0.8), chain
            ),
            "postings": MaintainedIngest(postings_maintainer(self.spark, f"{root}/postings"), versioned),
            "qhist": MaintainedIngest(quality_hist_maintainer(self.spark, f"{root}/qhist"), versioned),
        }
        if self.tracer.enabled:
            for name in ("seen", "index"):
                inner = m[name].maintainer
                inner.compact = self._spanned(inner.compact, f"streaming.compact.{name}")
        return m

    def _spanned(self, fn, name: str):
        def wrapper(*args, **kwargs):
            with self.tracer.span(name, "streaming"):
                return fn(*args, **kwargs)

        return wrapper

    def _batch(self, m: dict, b: int, res: PassResult) -> Op:
        from pyspark.sql import functions as F

        from mapreduce_paper_implementation_spark.operators.caching import release_persisted
        from mapreduce_paper_implementation_spark.streaming.rollup import (
            adaptive_threshold_view,
            bm25_view,
        )
        from mapreduce_paper_implementation_spark.testing.compare import spark_to_pandas

        spark, tracer = self.spark, self.tracer
        flagged = []

        def update():
            batch = spark.read.parquet(self.inp.batch_paths[b]).withColumn(
                "content_hash", F.md5("text")
            )
            with tracer.span("streaming.update.seen", "streaming"):
                tagged = m["seen"].update(batch, b)
            novel = tagged.where(~F.col("seen")).select("doc_id", "text", "source", "n_chars")
            with tracer.span("streaming.update.index", "streaming"):
                flagged.append(m["index"].update(novel, b).count())
            with tracer.span("streaming.update.postings", "streaming"):
                m["postings"].update(novel.select("doc_id", "text"), b)
            with tracer.span("streaming.update.qhist", "streaming"):
                m["qhist"].update(novel, b)

        def serve():
            with tracer.span("streaming.serve", "streaming") as s:
                served = {
                    "bm25": spark_to_pandas(bm25_view(m["postings"].current_state())),
                    "thresholds": spark_to_pandas(
                        adaptive_threshold_view(m["qhist"].current_state())
                    ),
                }
            res.serve_s.append(s.seconds)
            return served

        def check(_):
            served = serve()
            ids = {
                r[0]
                for r in m["postings"].current_state().select("doc_id").distinct().collect()
            }
            views = {}
            if b == len(self.inp.batch_paths) - 1:  # every doc is in by now
                views = {k: (served[k], self.inp.oracle[k]) for k in served}
            return gates.served_state(views, ids, self.inp.prefix_ids[b])

        op = _run_op(tracer, "ingest.batch", "streaming", update, check)
        release_persisted()
        spark.catalog.clearCache()
        res.layer["streaming.dups_flagged"] = res.layer.get("streaming.dups_flagged", 0) + sum(flagged)
        return op

    def run_pass(self) -> PassResult:
        self._n += 1
        root = os.path.join(self.work, "ingest_state", f"p{self._n:04d}")
        m = self._topology(root)
        res = PassResult()
        written = 0
        for b in range(len(self.inp.batch_paths)):
            before = file_sizes(root) if self.tracer.enabled else {}
            res.ops.append(self._batch(m, b, res))
            if self.tracer.enabled:
                after = file_sizes(root)
                written += sum(sz for p, sz in after.items() if before.get(p) != sz)
        if self.tracer.enabled:
            res.layer["streaming.state_mb"] = dir_bytes(root) / 1e6
            res.layer["streaming.write_amp"] = written / self.input_bytes
            res.layer["sources.output_mb"] = written / 1e6
            res.layer["streaming.compactions"] = sum(
                e.action == "compact" for x in m.values() for e in x.events
            )
        shutil.rmtree(root, ignore_errors=True)
        return res


WORKLOADS = {w.name: w for w in (MrText, Curation, Ingest)}

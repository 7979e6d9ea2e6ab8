"""The benchmark's workloads: closed loops with one client in one process,
Spark at local[nproc], against the public API of librecatastro_spark.

serve         opens the positions index (the ES default text mapping), warms
              the decode cache, then runs a read-only stream: coordinator
              term queries and selective phrases, then cluster searches and
              hot phrases (both Spark jobs).
append_serve  copies the freqs index, opens and warms it, then runs cycles
              of append_batch -> delete_batch -> refresh() -> coordinator
              queries (the first probing the new doc) -> cluster searches.
              Every refresh clears the decode cache and footer stats.

Both indexes are built once per checkout by prep.py, freqs then positions
in one fresh process (the ingest step); traced runs report that build's
builder-layer record.

Both report the same end-to-end metrics (METRICS); the traced run adds
the per-layer metrics (LAYER_METRICS).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import resource
import shutil
import sys
import time
import traceback

import pandas as pd

from librecatastro_spark.corpus import corpus_cache_valid
from librecatastro_spark.engine import wand
from librecatastro_spark.index.builder import stats_delta_dirs
from librecatastro_spark.streaming import incremental

from . import common, streams
from .tracer import Tracer, covered, install_layer_wrappers, self_time

# name -> unit, in the order BENCHMARK.json lists them
METRICS = {
    "setup_s": "s",
    "index_bytes_per_input_byte": "ratio",
    "coord_p50_ms": "ms",
    "coord_p90_ms": "ms",
    "cluster_p50_ms": "ms",
    "ops_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
}

LAYER_METRICS = {
    "session.start_s": "s",
    "corpus.materialize_s": "s",
    "builder.gb_per_hr": "GB/hr",
    "builder.count_pct": "%",
    "builder.attrs_pct": "%",
    "builder.tokenize_pct": "%",
    "builder.stats_pct": "%",
    "builder.stage1_pct": "%",
    "builder.tids_pct": "%",
    "builder.stage2_pct": "%",
    "builder.spark_jobs": "count",
    "builder.spark_stages": "count",
    "builder.spark_tasks": "count",
    "builder.jvm_cores": "cores",
    "builder.pyworker_cores": "cores",
    "index.postings_bytes": "bytes",
    "index.stage_bytes": "bytes",
    "index.attrs_bytes": "bytes",
    "index.term_stats_bytes": "bytes",
    "index.blocks": "count",
    "index.postings": "count",
    "analyzer.ms_per_query": "ms",
    "seek.row_groups_read": "count",
    "seek.ms": "ms",
    "seek.bytes_read": "bytes",
    "decode.calls": "count",
    "decode.bytes_in": "bytes",
    "decode.ms": "ms",
    "coord.self_ms": "ms",
    "cluster.jobs": "count",
    "cluster.stages": "count",
    "cluster.tasks": "count",
    "cluster.jvm_cpu_ms": "ms",
    "cluster.pyworker_cpu_ms": "ms",
    "phrase.cluster_routed": "count",
    "phrase.bytes_read": "bytes",
    "phrase_sel_p50_ms": "ms",
    "phrase_hot_p50_ms": "ms",
    "append.s": "s",
    "delete.s": "s",
    "refresh.s": "s",
    "recover.s": "s",
    "compact.s": "s",
    "compact.calls": "count",
    "append.spark_tasks": "count",
    "delete.spark_tasks": "count",
    "visible.first_query_ms": "ms",
    "visible_p50_s": "s",
    "delete_p50_s": "s",
    "host.steal_pct": "%",
    "host.loadavg1": "load",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}

SETUP_REPS = 3
SERVE_MIN_ROUNDS = 14       # 196 coordinator queries, 28 cluster searches
APPEND_MIN_CYCLES = 3       # ~13 s each: the run budget allows no more
APPEND_DOCS = 50
DELETE_DOCS = 10
CYCLE_QUERIES = 50          # 150 coordinator queries
CYCLE_CLUSTER = 6           # 18 cluster searches
OVERHEAD_QUERIES = 40


def _request(q: dict) -> tuple[str, int, dict]:
    """(text, k, other search keywords) of a generated request."""
    kw = {key: v for key, v in q.items() if key not in ("text", "k", "shape", "kind")}
    return q["text"], q["k"], kw


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


class Run:
    """State and bookkeeping of one benchmark run."""

    def __init__(self, spark, seed: int, seconds: int, trace: bool, prep: dict):
        self.spark, self.seed, self.seconds, self.prep = spark, seed, seconds, prep
        self.sc = spark.sparkContext
        self.tracer = Tracer() if trace else None
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
        self.lat: dict[str, list[float]] = {}
        self.groups: dict[str, list[str]] = {}
        self._gid = itertools.count(1)
        self.op_io: dict[int, int] = {}
        self.op_cpu: dict[int, tuple[float, float]] = {}
        self.op_group: dict[int, str] = {}
        self.visible: list[float] = []
        if trace:
            install_layer_wrappers(self.tracer)

    # ------------------------------------------------------- bookkeeping --
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# wrong answer: {what}", file=sys.stderr)
        return ok

    def group(self, kind: str) -> str:
        gid = f"perfbench-{next(self._gid)}-{kind}"
        self.sc.setJobGroup(gid, kind)
        self.groups.setdefault(kind, []).append(gid)
        return gid

    @contextlib.contextmanager
    def op(self, kind: str, io: bool = False, jobs: bool = False, cpu: bool = False):
        """Time one client operation; count it attempted, and failed if it
        raises. Traced runs also record its span, and optionally the bytes
        it read, the Spark jobs it launched and the CPU it cost."""
        self.attempted += 1
        tr = self.tracer
        span_cm = tr.op(kind) if tr else contextlib.nullcontext()
        ok = True
        with span_cm as span:
            if tr and jobs:
                self.op_group[span.op_id] = self.group(kind)
            c0 = common.proc_cpu(common.jvm_pid()) if tr and cpu else None
            r0 = common.rchar(True) if tr and io else None
            t0 = time.perf_counter()
            try:
                yield
            except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
                ok = False
                self.failed += 1
                traceback.print_exc(file=sys.stderr)
            dt = time.perf_counter() - t0
            if r0 is not None:
                self.op_io[span.op_id] = common.rchar(False) - r0
            if c0 is not None:
                c1 = common.proc_cpu(common.jvm_pid())
                self.op_cpu[span.op_id] = (c1[0] - c0[0], c1[1] - c0[1])
        if ok:
            self.lat.setdefault(kind, []).append(dt)

    # ------------------------------------------------------------ phases --
    def start(self, t_session: float) -> None:
        self.layer["session.start_s"] = t_session
        t0 = time.perf_counter()
        self.check(corpus_cache_valid(common.corpus_dir(common.CORPUS_DOCS),
                                      common.CORPUS_DOCS, common.CORPUS_SEED),
                   "benchmark corpus cached")
        self.layer["corpus.materialize_s"] = time.perf_counter() - t0
        self.input_bytes = self.prep["input_bytes"]

    def use_index(self, options: str) -> None:
        """Report the builder layer's record of the index this workload
        serves from (built by prep.py in a fresh process) and the index's
        exact on-disk layout."""
        b = self.prep["builds"][options]
        L = self.layer
        L["builder.gb_per_hr"] = b["gb_per_hr"]
        for sec in ("count", "attrs", "tokenize", "stats", "stage1", "tids", "stage2"):
            L[f"builder.{sec}_pct"] = 100.0 * b[f"{sec}_s"] / b["wall_s"]
        for k in ("spark_jobs", "spark_stages", "spark_tasks"):
            L[f"builder.{k}"] = b[k]
        L["builder.jvm_cores"] = b["jvm_cpu_s"] / b["wall_s"]
        L["builder.pyworker_cores"] = b["pyworker_cpu_s"] / b["wall_s"]
        lay = common.index_layout(common.index_dir(options))
        self.e2e["index_bytes_per_input_byte"] = lay["total_bytes"] / self.input_bytes
        for k in ("postings_bytes", "stage_bytes", "attrs_bytes",
                  "term_stats_bytes", "blocks", "postings"):
            self.layer[f"index.{k}"] = lay[k]

    def open_index(self, options: str, copy_to: str | None = None):
        """Set-up proper, repeated SETUP_REPS times: (copy the index to a
        private directory, for a workload that writes to it,) open it and
        warm the decode cache with every hot term and every query shape."""
        src = common.index_dir(options)
        rng = streams._rng(self.seed, "warm")
        warm = [dict(text=t, k=10) for t in streams.HOT]
        warm += [streams.term_query(rng, s, common.CORPUS_DOCS) for s in streams.SHAPES]
        phrases = [streams.phrase_sel(rng) for _ in range(2)]
        times = []
        idx = None
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            if copy_to:
                shutil.rmtree(copy_to, ignore_errors=True)
                shutil.copytree(src, copy_to)
            idx = wand.CompressedIndex(self.spark, copy_to or src)
            for q in warm:
                text, k, kw = _request(q)
                idx.search_local(text, k=k, **kw)
            if options == "positions":
                for text in phrases:
                    idx.match_phrase_local(text, k=10)
            times.append(time.perf_counter() - t0)
        self.setup_index_s = common.median(times)
        log(f"set-up reps {['%.2f' % t for t in times]} s")
        return idx

    def check_exact(self, idx, phrases: bool) -> None:
        """The fixed ExactBM25 sample, outside every timed region."""
        for q, ref in zip(common.EXACT_TERM_SAMPLE, self.prep["terms"]):
            text, k, kw = _request(q)
            got = common.rows_of(idx.search_local(text, k=k, **kw))
            self.check(got == [tuple(r) for r in ref], f"exact sample {q}")
        if phrases:
            for text, ref in zip(common.EXACT_PHRASE_SAMPLE, self.prep["phrases"]):
                got = common.rows_of(idx.match_phrase_local(text, k=10))
                self.check(got == [tuple(r) for r in ref], f"exact phrase {text!r}")
        self.sc.setJobGroup("perfbench-other", "other")

    def coord(self, idx, q: dict, kind: str = "coord"):
        text, k, kw = _request(q)
        out = None
        with self.op(kind, io=True):
            out = idx.search_local(text, k=k, **kw)
        return out

    def cluster(self, idx, q: dict) -> None:
        """One cluster search, checked against search_local afterwards."""
        text, k, kw = _request(q)
        rows = None
        with self.op("cluster", jobs=True, cpu=True):
            rows = common.rows_of(idx.search(text, k=k, **kw))
        self.sc.setJobGroup("perfbench-other", "other")
        if rows is not None:
            local = common.rows_of(idx.search_local(text, k=k, **kw))
            self.check(rows == local, f"cluster == local for {text!r} {kw}")

    # ----------------------------------------------------------- metrics --
    def finish(self, t_session: float, idx) -> None:
        """End-to-end metrics, and in a traced run the per-layer ones.
        Throughput is operations completed per second of time spent inside
        timed operations (checks excluded)."""
        coord = self.lat.get("coord", [])
        self.e2e["setup_s"] = (t_session + self.layer["corpus.materialize_s"]
                               + self.setup_index_s)
        self.e2e["coord_p50_ms"] = 1e3 * common.percentile(coord, 50)
        self.e2e["coord_p90_ms"] = 1e3 * common.percentile(coord, 90)
        self.e2e["cluster_p50_ms"] = 1e3 * common.percentile(self.lat["cluster"], 50)
        done = [t for v in self.lat.values() for t in v]
        self.e2e["ops_per_s"] = len(done) / sum(done)
        self.e2e["driver_peak_rss_mb"] = (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
        self.samples = {k: len(v) for k, v in self.lat.items()}
        log("median s per op: " + ", ".join(
            f"{k} {common.median(v):.3f}" for k, v in self.lat.items()))
        if self.tracer:
            self.finish_layers()
            self.measure_overhead(idx)

    def finish_layers(self) -> None:
        tr = self.tracer
        L = self.layer
        coord_ops = tr.ops("coord")
        if coord_ops:
            n = len(coord_ops)
            L["analyzer.ms_per_query"] = 1e3 * sum(
                s.dur for o in coord_ops for s in tr.children(o, "analyze")) / n
            reads = [s for o in coord_ops for s in tr.children(o, "seek.read")]
            L["seek.row_groups_read"] = sum(s.attrs["row_groups"] for s in reads)
            L["seek.ms"] = 1e3 * sum(covered(tr.children(o, "seek.read"), o.start, o.end)
                                     for o in coord_ops) / n
            L["seek.bytes_read"] = sum(self.op_io.get(o.op_id, 0) for o in coord_ops)
            decs = [s for o in coord_ops for s in tr.children(o, "decode")]
            L["decode.calls"] = len(decs)
            L["decode.bytes_in"] = sum(s.attrs["bytes_in"] for s in decs)
            L["decode.ms"] = 1e3 * sum(covered(tr.children(o, "decode"), o.start, o.end)
                                       for o in coord_ops) / n
            L["coord.self_ms"] = 1e3 * sum(self_time(tr, o) for o in coord_ops) / n
        cl = tr.ops("cluster")
        if cl:
            jobs, stages, tasks = common.group_counts(
                self.sc, [self.op_group[o.op_id] for o in cl])
            L["cluster.jobs"] = jobs / len(cl)
            L["cluster.stages"] = stages / len(cl)
            L["cluster.tasks"] = tasks / len(cl)
            L["cluster.jvm_cpu_ms"] = 1e3 * sum(self.op_cpu[o.op_id][0] for o in cl) / len(cl)
            L["cluster.pyworker_cpu_ms"] = 1e3 * sum(self.op_cpu[o.op_id][1] for o in cl) / len(cl)
        ph = tr.ops("phrase_sel") + tr.ops("phrase_hot")
        L["phrase.cluster_routed"] = sum(
            1 for o in ph if common.group_counts(self.sc, [self.op_group[o.op_id]])[0] > 0)
        L["phrase.bytes_read"] = sum(self.op_io.get(o.op_id, 0) for o in tr.ops("phrase_sel"))
        for kind in ("phrase_sel", "phrase_hot"):
            if self.lat.get(kind):
                L[f"{kind}_p50_ms"] = 1e3 * common.percentile(self.lat[kind], 50)
        for fn, key in (("append_batch", "append.s"), ("delete_batch", "delete.s"),
                        ("CompressedIndex.refresh", "refresh.s"),
                        ("recover_index", "recover.s"),
                        ("compact_term_stats", "compact.s")):
            calls = [s for s in tr.spans if s.name == fn]
            if calls:
                L[key] = sum(s.dur for s in calls) / len(calls)
        L["compact.calls"] = sum(1 for s in tr.spans
                                 if s.name == "compact_term_stats" and s.attrs["fired"])
        for kind in ("append", "delete"):
            if kind in self.groups:
                L[f"{kind}.spark_tasks"] = common.group_counts(self.sc, self.groups[kind])[2]
        for kind, key, scale in (("probe", "visible.first_query_ms", 1e3),
                                 ("delete", "delete_p50_s", 1.0)):
            if self.lat.get(kind):
                L[key] = scale * common.percentile(self.lat[kind], 50)
        if self.visible:
            L["visible_p50_s"] = common.percentile(self.visible, 50)
        L["trace.spans"] = len(tr.spans)

    def measure_overhead(self, idx) -> None:
        """Tracing cost: the same coordinator queries alternately with the
        tracer recording and switched off, as a share of the untraced
        median."""
        tr = self.tracer
        qs = streams.term_queries(streams._rng(self.seed, "overhead"),
                                  OVERHEAD_QUERIES, common.CORPUS_DOCS)
        on, off = [], []
        tr.restore()
        for i, q in enumerate(qs * 2):
            traced = (i % 2 == 0) ^ (i >= len(qs))
            if traced:
                install_layer_wrappers(tr)
            text, k, kw = _request(q)
            t0 = time.perf_counter()
            with (tr.op("overhead") if traced else contextlib.nullcontext()):
                idx.search_local(text, k=k, **kw)
            (on if traced else off).append(time.perf_counter() - t0)
            if traced:
                tr.restore()
        self.layer["trace.overhead_pct"] = 100.0 * (
            common.median(on) / common.median(off) - 1.0)


# ----------------------------------------------------------------- serve --

def serve(run: Run, t_session: float) -> None:
    run.use_index("positions")
    idx = run.open_index("positions")
    run.check_exact(idx, phrases=True)
    rounds = max(SERVE_MIN_ROUNDS, run.seconds)
    for op in streams.serve_ops(run.seed, rounds, common.CORPUS_DOCS):
        kind = op["kind"]
        if kind == "coord":
            run.coord(idx, op)
        elif kind == "cluster":
            run.cluster(idx, op)
        else:
            with run.op(kind, io=(kind == "phrase_sel"), jobs=True):
                idx.match_phrase_local(op["text"], k=10)
            run.sc.setJobGroup("perfbench-other", "other")
    run.finish(t_session, idx)


# ---------------------------------------------------------- append_serve --

def append_serve(run: Run, t_session: float) -> None:
    spark = run.spark
    out_dir = os.path.join(common.WORK, "run", "append_index")
    run.use_index("freqs")
    idx = run.open_index("freqs", copy_to=out_dir)
    run.check_exact(idx, phrases=False)
    n = common.CORPUS_DOCS
    cycles = max(APPEND_MIN_CYCLES, round(run.seconds / 10))
    alive_tail = list(range(n * 3 // 4, n))
    clusters = streams.cluster_requests(run.seed, cycles * CYCLE_CLUSTER, n)
    next_id, prev_tok = n, None
    for c in range(cycles):
        rows = streams.new_docs(run.seed, c, next_id, APPEND_DOCS)
        new_ids = [r["doc_id"] for r in rows]
        batch_tok, probe_tok = streams.batch_tokens(run.seed, c)
        new_df = spark.createDataFrame(pd.DataFrame(rows))
        vict = streams.victims(run.seed, c, alive_tail, DELETE_DOCS,
                               new_ids[0] - APPEND_DOCS if prev_tok else None)
        added = deleted = probe = None
        t_cycle = time.perf_counter()
        with run.op("append", jobs=True):
            added = incremental.append_batch(spark, out_dir, new_df)
        with run.op("delete", jobs=True):
            deleted = incremental.delete_batch(spark, out_dir, vict)
        run.sc.setJobGroup("perfbench-other", "other")
        with run.op("refresh"):
            idx.refresh()
        probe = run.coord(idx, dict(text=probe_tok, k=10), kind="probe")
        t_vis = time.perf_counter() - t_cycle
        seen = probe is not None and new_ids[0] in set(probe["doc_id"].tolist())
        if run.check(seen, f"cycle {c}: appended probe doc visible"):
            run.visible.append(t_vis)
        for q in streams.append_cycle_queries(run.seed, c, CYCLE_QUERIES, n):
            run.coord(idx, q)
        for q in clusters[c * CYCLE_CLUSTER:(c + 1) * CYCLE_CLUSTER]:
            run.cluster(idx, q)
        # the writes' answers, untimed
        run.check(added == APPEND_DOCS, f"cycle {c}: append_batch added {added}")
        run.check(deleted == len(vict), f"cycle {c}: delete_batch removed {deleted}")
        got = set(idx.search_local(batch_tok, k=APPEND_DOCS * 2)["doc_id"].tolist())
        run.check(got == set(new_ids), f"cycle {c}: every appended doc visible")
        gone = idx.search_local(" ".join(streams.HOT), k=DELETE_DOCS, ids=vict)
        run.check(len(gone) == 0, f"cycle {c}: deleted ids absent")
        if prev_tok is not None:
            run.check(len(idx.search_local(prev_tok, k=10)) == 0,
                      f"cycle {c}: deleted probe doc absent")
        dead = set(vict)
        alive_tail = [d for d in alive_tail if d not in dead]
        next_id += APPEND_DOCS
        prev_tok = probe_tok
    run.check(len(stats_delta_dirs(out_dir)) == 1 + 2 * cycles,
              "one term-stats delta per append and per delete")
    run.finish(t_session, idx)


WORKLOADS = {"serve": serve, "append_serve": append_serve}

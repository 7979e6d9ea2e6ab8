"""Tests of the benchmark itself (no Spark session needed):

    python3 -m pytest -q perfbench/test_perfbench.py
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import common, streams, workloads  # noqa: E402
from perfbench.tracer import Span, Tracer, covered, install_layer_wrappers, self_time  # noqa: E402

N = common.CORPUS_DOCS


# ------------------------------------------------------------- streams --

def test_same_seed_same_stream_other_seed_other_stream():
    assert streams.serve_ops(7, 3, N) == streams.serve_ops(7, 3, N)
    assert streams.serve_ops(7, 3, N) != streams.serve_ops(8, 3, N)
    assert streams.append_cycle_queries(7, 2, 26, N) == streams.append_cycle_queries(7, 2, 26, N)
    assert streams.append_cycle_queries(7, 2, 26, N) != streams.append_cycle_queries(8, 2, 26, N)
    assert streams.cluster_requests(7, 12, N) == streams.cluster_requests(7, 12, N)
    assert streams.cluster_requests(7, 12, N) != streams.cluster_requests(8, 12, N)
    assert streams.new_docs(7, 1, N, 50) == streams.new_docs(7, 1, N, 50)
    assert streams.new_docs(7, 1, N, 50) != streams.new_docs(8, 1, N, 50)
    tail = list(range(N * 3 // 4, N))
    assert streams.victims(7, 1, tail, 10, None) == streams.victims(7, 1, tail, 10, None)
    assert streams.victims(7, 1, tail, 10, None) != streams.victims(8, 1, tail, 10, None)


def test_stream_mix_and_inputs_are_well_formed():
    ops = streams.serve_ops(3, workloads.SERVE_MIN_ROUNDS, N)
    kinds = [o["kind"] for o in ops]
    assert kinds.count("coord") == 14 * workloads.SERVE_MIN_ROUNDS
    assert kinds.count("phrase_sel") == workloads.SERVE_MIN_ROUNDS
    assert kinds.count("cluster") == 2 * workloads.SERVE_MIN_ROUNDS
    assert kinds.count("phrase_hot") == (workloads.SERVE_MIN_ROUNDS + 2) // 3
    shapes = [o["shape"] for o in ops if o["kind"] == "coord"]
    assert {shapes.count(s) for s in streams.SHAPES} == {2 * workloads.SERVE_MIN_ROUNDS}
    docs = streams.new_docs(3, 0, N, 50)
    assert [d["doc_id"] for d in docs] == list(range(N, N + 50))
    batch, probe = streams.batch_tokens(3, 0)
    assert all(batch in d["content"].split() for d in docs)
    assert [probe in d["content"].split() for d in docs].count(True) == 1
    v = streams.victims(3, 1, list(range(4500, 6000)), 10, 6000)
    assert len(set(v)) == 10 and 6000 in v


# --------------------------------------------------------- percentiles --

@pytest.mark.parametrize("n", [100, 104, 112, 250])
def test_p90_keeps_ten_samples_beyond(n):
    x = np.random.default_rng(n).permutation(n).astype(float).tolist()
    assert sum(v > common.percentile(x, 90) for v in x) >= 10


def test_workload_sizes_meet_the_tail_rule():
    need = common.min_samples_for_tail(90)
    assert need == 100
    assert 14 * workloads.SERVE_MIN_ROUNDS >= need
    assert workloads.CYCLE_QUERIES * workloads.APPEND_MIN_CYCLES >= need
    assert common.percentile([3.0, 1.0, 2.0], 50) == 2.0


# ------------------------------------------------------------- metrics --

def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_emitted_metrics():
    bj = _benchmark_json()
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == workloads.METRICS
    assert {m["name"]: m["unit"] for m in bj["per_layer"]} == workloads.LAYER_METRICS
    assert sorted(w["name"] for w in bj["workloads"]) == sorted(workloads.WORKLOADS)


# Where each metric of the benchmark's specification is emitted. Metrics
# every workload has are end-to-end; those only one workload (or the
# once-per-checkout build) can measure are per-layer, because every run
# must print every end-to-end metric.
SPEC_METRICS = {
    "setup_s": "setup_s",
    "build_gb_per_hr": "builder.gb_per_hr",
    "pos_build_gb_per_hr": "builder.gb_per_hr",
    "index_bytes_per_input_byte": "index_bytes_per_input_byte",
    "pos_index_bytes_per_input_byte": "index_bytes_per_input_byte",
    "coord_p50_ms": "coord_p50_ms",
    "coord_p90_ms": "coord_p90_ms",
    "phrase_sel_p50_ms": "phrase_sel_p50_ms",
    "phrase_hot_p50_ms": "phrase_hot_p50_ms",
    "cluster_p50_ms": "cluster_p50_ms",
    "visible_p50_s": "visible_p50_s",
    "delete_p50_s": "delete_p50_s",
    "driver_peak_rss_mb": "driver_peak_rss_mb",
    # the prep build's record repeats in every run of a checkout, so its
    # section times are reported as shares of the build, and its CPU as
    # cores busy
    **{f"builder.{sec}_s": f"builder.{sec}_pct" for sec in (
        "count", "attrs", "tokenize", "stats", "stage1", "tids", "stage2")},
    "builder.jvm_cpu_s": "builder.jvm_cores",
    "builder.pyworker_cpu_s": "builder.pyworker_cores",
    **{n: n for n in (
        "session.start_s", "corpus.materialize_s",
        "builder.spark_jobs", "builder.spark_stages", "builder.spark_tasks",
        "index.postings_bytes",
        "index.stage_bytes", "index.attrs_bytes", "index.term_stats_bytes",
        "index.blocks", "index.postings", "analyzer.ms_per_query",
        "seek.row_groups_read", "seek.ms", "seek.bytes_read", "decode.calls",
        "decode.bytes_in", "decode.ms", "coord.self_ms", "cluster.jobs",
        "cluster.stages", "cluster.tasks", "cluster.jvm_cpu_ms",
        "cluster.pyworker_cpu_ms", "phrase.cluster_routed", "phrase.bytes_read",
        "append.s", "delete.s", "refresh.s", "recover.s", "compact.s",
        "compact.calls", "append.spark_tasks", "delete.spark_tasks",
        "visible.first_query_ms", "host.steal_pct", "host.loadavg1")},
}


def test_every_specified_metric_is_emitted_with_a_unit():
    emitted = {**workloads.METRICS, **workloads.LAYER_METRICS}
    for spec_name, name in SPEC_METRICS.items():
        assert emitted.get(name), f"{spec_name} -> {name} not emitted"


# -------------------------------------------------------------- tracer --

def test_traced_wrappers_return_what_the_originals_return(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from librecatastro_spark.analyzer import Analyzer
    from librecatastro_spark.engine import wand
    from librecatastro_spark.index.codec import encode_varbyte
    from librecatastro_spark.streaming import incremental

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"term": ["a", "b", "c"] * 100, "v": list(range(300))}),
                   path, row_group_size=50)
    buf = encode_varbyte(np.arange(1000, dtype=np.int64) * 7)
    text = "def Return  import_x id0042"
    originals = (Analyzer.analyze, pq.ParquetFile.read_row_groups,
                 wand.decode_varbyte, wand.CompressedIndex.refresh,
                 incremental.append_batch, incremental.compact_term_stats)
    plain = (Analyzer(None).analyze(text), wand.decode_varbyte(buf),
             pq.ParquetFile(path).read_row_groups([1, 3]))

    tr = Tracer()
    install_layer_wrappers(tr)
    try:
        with tr.op("coord") as op:
            traced = (Analyzer(None).analyze(text), wand.decode_varbyte(buf),
                      pq.ParquetFile(path).read_row_groups([1, 3]))
    finally:
        tr.restore()
    assert traced[0] == plain[0]
    assert np.array_equal(traced[1], plain[1])
    assert traced[2].equals(plain[2])
    assert [s.name for s in tr.children(op)] == ["analyze", "decode", "seek.read"]
    assert tr.children(op, "seek.read")[0].attrs == {"row_groups": 2}
    assert tr.children(op, "decode")[0].attrs == {"bytes_in": len(buf)}
    assert (Analyzer.analyze, pq.ParquetFile.read_row_groups, wand.decode_varbyte,
            wand.CompressedIndex.refresh, incremental.append_batch,
            incremental.compact_term_stats) == originals


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    op = Span(1, "coord", 1, None, 0.0, 10.0)
    tr.spans = [op, Span(2, "seek.read", 1, 1, 1.0, 4.0),
                Span(3, "seek.read", 1, 1, 2.0, 5.0),  # overlaps: another thread
                Span(4, "decode", 1, 1, 6.0, 7.0),
                Span(5, "decode", 9, 9, 0.0, 10.0)]   # another operation
    assert covered(tr.children(op), 0.0, 10.0) == pytest.approx(5.0)
    assert self_time(tr, op) == pytest.approx(5.0)

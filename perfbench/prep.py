"""One-time preparation of a checkout, run by run.py whenever
``_work/prep.json`` is missing or was made from other program source.
Each stage runs in its own process, so the builds start in a fresh JVM:

corpus  materializes the benchmark corpus and the 60k-doc golden corpus,
        each once per (CORPUS_VERSION, n_docs, seed) via corpus_cache_valid.
build   the ingest step: builds the freqs index and then the positions
        index of the benchmark corpus, in that order, and records what
        the builder layer did. The workloads serve from these indexes.
check   builds the 60k-doc freqs index exactly as bench.py does, computes
        bench.py's results_sha over its golden queries (then deletes the
        index), and computes ExactBM25 references for the check sample.

Usage: python3 perfbench/prep.py            (all stages)
       python3 perfbench/prep.py --stage S  (one stage; prints its JSON)
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

STAGE_TIMEOUT_S = 400


def ensure_corpus(spark, n_docs: int) -> float:
    from librecatastro_spark.corpus import corpus_cache_valid, materialize_corpus

    t0 = time.perf_counter()
    d = common.corpus_dir(n_docs)
    if not corpus_cache_valid(d, n_docs, common.CORPUS_SEED):
        materialize_corpus(spark, n_docs, d, seed=common.CORPUS_SEED)
    return time.perf_counter() - t0


def stage_corpus(spark) -> dict:
    out = {"corpus_s": ensure_corpus(spark, common.CORPUS_DOCS),
           "golden_corpus_s": ensure_corpus(spark, common.GOLDEN_DOCS)}
    docs = common.open_corpus(spark, common.CORPUS_DOCS)
    out["input_bytes"] = int(docs.selectExpr(common.INPUT_BYTES_SQL).collect()[0]["b"])
    return out


def stage_build(spark) -> dict:
    with open(common.prep_path() + ".corpus") as fh:
        input_bytes = json.load(fh)["input_bytes"]
    builds = {}
    for options in ("freqs", "positions"):
        docs = common.open_corpus(spark, common.CORPUS_DOCS)
        builds[options] = common.measure_build(spark, docs, options, input_bytes)
        common.query_splits(spark)
    return {"builds": builds}


def golden_sha(spark) -> str:
    """bench.py's results_sha: the first distributed answer of each golden
    query, fingerprinted in bench.py's order and format."""
    from librecatastro_spark.engine.wand import CompressedIndex
    from librecatastro_spark.index.builder import build_index

    idx_dir = os.path.join(common.WORK, "golden_index")
    docs = common.open_corpus(spark, common.GOLDEN_DOCS)
    try:
        build_index(spark, docs, idx_dir, **common.GOLDEN_BUILD_KW)
        common.query_splits(spark)
        index = CompressedIndex(spark, idx_dir)
        fp = hashlib.sha256()
        for q in common.GOLDEN_QUERIES.values():
            q = dict(q)
            rows = index.search(q.pop("text"), k=q.pop("k"), **q).collect()
            fp.update(repr([(r["doc_id"], r["score"]) for r in rows]).encode())
        return fp.hexdigest()[:16]
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)


def stage_check(spark) -> dict:
    from librecatastro_spark.engine.exact import ExactBM25

    sha = golden_sha(spark)
    docs = common.open_corpus(spark, common.CORPUS_DOCS)
    exact = ExactBM25(docs, attr_cols=common.ATTRS, cache=True)
    terms = []
    for q in common.EXACT_TERM_SAMPLE:
        q = dict(q)
        terms.append(common.rows_of(exact.search(q.pop("text"), k=q.pop("k"), **q)))
    phrases = [common.rows_of(exact.match_phrase(t, k=10))
               for t in common.EXACT_PHRASE_SAMPLE]
    return {"golden_sha": sha, "golden_ok": sha == common.GOLDEN_SHA,
            "terms": terms, "phrases": phrases}


STAGES = {"corpus": stage_corpus, "build": stage_build, "check": stage_check}


def run_stage(name: str) -> dict:
    spark = common.start_session(f"perfbench-prep-{name}")
    try:
        return STAGES[name](spark)
    finally:
        common.stop_session(spark)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--stage", choices=sorted(STAGES))
    args = ap.parse_args()
    os.makedirs(common.WORK, exist_ok=True)
    if args.stage:
        out = run_stage(args.stage)
        with open(common.prep_path() + f".{args.stage}", "w") as fh:
            json.dump(out, fh)
        return 0
    rec = {"key": common.prep_key()}
    for name in ("corpus", "build", "check"):
        subprocess.run([sys.executable, os.path.abspath(__file__), "--stage", name],
                       check=True, timeout=STAGE_TIMEOUT_S)
        with open(common.prep_path() + f".{name}") as fh:
            rec.update(json.load(fh))
    tmp = common.prep_path() + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(rec, fh)
    os.replace(tmp, common.prep_path())
    print(json.dumps({k: rec[k] for k in ("golden_sha", "golden_ok")}),
          file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

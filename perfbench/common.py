"""Shared settings and helpers of the perfbench benchmark.

Everything here is either pure Python (percentiles, /proc readers, file
sizes) or a thin wrapper over the public ``librecatastro_spark`` API, so
the workload code and ``prep.py`` agree on one corpus, one index layout
and one session configuration.
"""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import statistics
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")

# The benchmark corpus: corpus.materialize_corpus at a fixed seed. At 6k
# docs a fresh-process build takes 16-35 s and one append or delete
# 4-6 s on 4 vCPUs, nearly all of it fixed Spark cost; the 60k-doc corpus
# would not fit the run budget. 4 shards keep ~1.5k docs per shard, and
# every append/delete touches the tail shard only.
CORPUS_DOCS = 6000
CORPUS_SEED = 42
GOLDEN_DOCS = 60000
ATTRS = ("lang", "repo", "path", "content_sha256")
BUILD_KW = dict(
    id_col="doc_id", text_col="content", attr_cols=ATTRS, n_shards=4,
    block_size=128, salt_threshold=2000, n_salts=8, shards_per_job=4,
    resume=False,
)

# The ROADMAP invariant: bench.py's golden queries on the 60k-doc freqs
# index, fingerprinted exactly as bench.py does it.
GOLDEN_SHA = "b8a9dfc8ce2e3759"
GOLDEN_QUERIES = {
    "q_match_hot": dict(text="def return import", k=10),
    "q_match_mixed": dict(text="spark partition id0042", k=10),
    "q_match_rare": dict(text="id0007 id1234 id1999", k=10),
    "q_bool_must": dict(text="select filter group", k=10, require_all=True),
    "q_must_selective": dict(text="def uid00123", k=10, require_all=True),
    "q_must_not": dict(text="query", k=10, must_not_text="shuffle"),
    "q_keyword_filter": dict(text="index merge", k=10, filters={"lang": "py"}),
    "q_prefix_filter": dict(text="index merge", k=10, prefix=("path", "src/mod4/")),
    "q_topk_100": dict(text="sort merge join", k=100),
}
GOLDEN_BUILD_KW = dict(
    id_col="doc_id", text_col="content", attr_cols=ATTRS, n_shards=16,
    block_size=128, salt_threshold=20_000, n_salts=8, shards_per_job=16,
    resume=False,
)

# Requests whose answers are checked against engine.exact.ExactBM25
# (references computed once per checkout by prep.py).
EXACT_TERM_SAMPLE = [
    dict(text="def return import", k=10),
    dict(text="spark partition id0042", k=10),
    dict(text="def uid00123", k=10, require_all=True),
    dict(text="index merge", k=10, filters={"lang": "py"}),
    dict(text="id0007 id1234", k=10),
]
EXACT_PHRASE_SAMPLE = ["id0042 merge", "def return"]

INPUT_BYTES_SQL = (
    "sum(octet_length(content) + octet_length(repo) + octet_length(path)"
    " + octet_length(commit) + octet_length(lang)"
    " + octet_length(content_sha256) + 8) as b"
)


def corpus_dir(n_docs: int) -> str:
    return os.path.join(WORK, f"corpus_{n_docs}")


def prep_key() -> str:
    """Fingerprint of everything prep.py's outputs depend on: the program
    source and the benchmark's own prep/settings code."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "librecatastro_spark", "**", "*.py"),
                             recursive=True))
    files += [os.path.join(BENCH_DIR, f) for f in ("common.py", "prep.py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prep_path() -> str:
    return os.path.join(WORK, "prep.json")


def load_prep() -> dict | None:
    try:
        with open(prep_path()) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        return None
    return rec if rec.get("key") == prep_key() else None


def session_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let workers import the program."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_session(app: str):
    from librecatastro_spark.session import get_spark

    session_env()
    tmp = os.environ["TMPDIR"]
    return get_spark(app, cores=os.cpu_count() or 4, extra_conf={
        "spark.local.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort: never leave a JVM behind
            proc.kill()
            proc.wait(timeout=30)


def open_corpus(spark, n_docs: int):
    """The cached corpus as a DataFrame, with scan splits sized like
    bench.py (>= 4 waves of the tokenize stage, no repartition shuffle)."""
    d = corpus_dir(n_docs)
    disk = sum(os.path.getsize(os.path.join(d, f))
               for f in os.listdir(d) if f.endswith(".parquet"))
    cores = spark.sparkContext.defaultParallelism
    split = max(1 << 20, min(32 << 20, disk // (4 * cores) + 1))
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    spark.conf.set("spark.sql.files.openCostInBytes", str(64 << 10))
    return spark.read.parquet(d)


def query_splits(spark) -> None:
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(128 << 20))


# ------------------------------------------------------------ statistics --

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[rank - 1])


def min_samples_for_tail(q: float, beyond: int = 10) -> int:
    """Smallest sample size whose nearest-rank q-th percentile has at
    least ``beyond`` samples above it."""
    n = 1
    while n - max(1, math.ceil(q / 100.0 * n)) < beyond:
        n += 1
    return n


def median(values) -> float:
    return float(statistics.median(values))


# ------------------------------------------------------------------ /proc --

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    return kids


def proc_cpu(jvm_pid: int | None) -> tuple[float, float]:
    """(JVM CPU s, Python-worker CPU s) of the Spark process tree. Worker
    CPU counts every descendant of the JVM, including workers already
    reaped (through their parent's cutime/cstime)."""
    if not jvm_pid:
        return 0.0, 0.0
    tick = os.sysconf("SC_CLK_TCK")
    f = _stat_fields(jvm_pid)
    if f is None:
        return 0.0, 0.0
    jvm = (int(f[11]) + int(f[12])) / tick
    kids = _children()
    work = 0.0
    stack = list(kids.get(jvm_pid, []))
    while stack:
        pid = stack.pop()
        g = _stat_fields(pid)
        if g is None:
            continue
        work += sum(int(x) for x in g[11:15]) / tick
        stack.extend(kids.get(pid, []))
    return jvm, work


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def rchar(include_this_read: bool) -> int:
    """Bytes this process has read so far (/proc/self/io rchar). The file
    shows the count from before its own read; ``include_this_read`` adds
    that read, so ``rchar(False) - rchar(True)`` taken around a piece of
    work is exactly the bytes the work read."""
    with open("/proc/self/io") as fh:
        raw = fh.read()
    for line in raw.splitlines():
        if line.startswith("rchar:"):
            return int(line.split()[1]) + (len(raw) if include_this_read else 0)
    raise OSError("no rchar in /proc/self/io")


def host_sample() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"t": time.time(), "cpu": cpu, "load1": load1}


def steal_pct(a: dict, b: dict) -> float:
    d = [y - x for x, y in zip(a["cpu"], b["cpu"])]
    total = sum(d[:8])
    return 100.0 * d[7] / total if total else 0.0


# ----------------------------------------------------------- index layout --

def _files(root: str, skip=("_manifest",)) -> list[str]:
    out = []
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in skip]
        out.extend(os.path.join(dirpath, f) for f in filenames)
    return out


def index_layout(out_dir: str) -> dict:
    """Exact byte and row counts of an index. The lineage records under
    _manifest carry wall times, so they are left out of every size."""
    import pyarrow.parquet as pq

    def size(sub):
        return sum(os.path.getsize(f) for f in _files(os.path.join(out_dir, sub)))

    blocks = postings = 0
    for f in _files(os.path.join(out_dir, "postings")):
        if f.endswith(".parquet"):
            t = pq.read_table(f, columns=["n_docs"])
            blocks += t.num_rows
            postings += int(t.column("n_docs").to_numpy().sum()) if t.num_rows else 0
    return {
        "total_bytes": sum(os.path.getsize(f) for f in _files(out_dir)),
        "postings_bytes": size("postings"),
        "stage_bytes": size("_stage"),
        "attrs_bytes": size("attrs"),
        "term_stats_bytes": size("term_stats"),
        "blocks": blocks,
        "postings": postings,
    }


def group_counts(sc, gids: list[str]) -> tuple[int, int, int]:
    """(jobs, stages, completed tasks) launched under the Spark job groups.
    Job and stage status reach the status tracker through the async
    listener bus, so the bus is drained first and the counts are exact."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — internal API; fall back to waiting
        time.sleep(2.0)
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for gid in gids:
        for j in st.getJobIdsForGroup(gid):
            info = st.getJobInfo(j)
            jobs += 1
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                stages += 1
                tasks += si.numCompletedTasks if si is not None else 0
    return jobs, stages, tasks


def index_dir(options: str) -> str:
    return os.path.join(WORK, f"index_{options}")


def measure_build(spark, docs, options: str, input_bytes: int) -> dict:
    """Build the benchmark index of one kind and record what the builder
    layer did: wall time, per-section times from the public manifest, the
    Spark jobs/stages/tasks it launched and the CPU of the JVM and of the
    Python workers."""
    import shutil

    from librecatastro_spark.index.builder import build_index, manifest_records

    out_dir = index_dir(options)
    shutil.rmtree(out_dir, ignore_errors=True)
    sc = spark.sparkContext
    gid = f"perfbench-build-{options}"
    sc.setJobGroup(gid, "build")
    pid = jvm_pid()
    c0 = proc_cpu(pid)
    t0 = time.perf_counter()
    build_index(spark, docs, out_dir, index_options=options, **BUILD_KW)
    wall = time.perf_counter() - t0
    c1 = proc_cpu(pid)
    sc.setJobGroup("perfbench-other", "other")
    jobs, stages, tasks = group_counts(sc, [gid])
    recs = manifest_records(out_dir)
    st = recs.get("stage", {})
    units = [r for u, r in recs.items() if u.startswith("shards_")]
    return {
        "wall_s": wall,
        "gb_per_hr": (input_bytes / 1e9) / (wall / 3600.0),
        "count_s": st.get("sec_count", 0.0),
        "attrs_s": st.get("sec_attrs", 0.0),
        "tokenize_s": st.get("sec_tokenize", 0.0),
        "stats_s": st.get("sec_stats", 0.0),
        "stage1_s": st.get("secs", 0.0),
        "tids_s": sum(r.get("sec_tids", 0.0) for r in units),
        "stage2_s": sum(r.get("secs", 0.0) for r in units),
        "spark_jobs": jobs, "spark_stages": stages, "spark_tasks": tasks,
        "jvm_cpu_s": c1[0] - c0[0], "pyworker_cpu_s": c1[1] - c0[1],
    }


def rows_of(df) -> list[tuple[int, float]]:
    """(doc_id, score) pairs of a Spark or pandas result."""
    if hasattr(df, "itertuples"):
        return [(int(r.doc_id), float(r.score)) for r in df.itertuples()]
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]

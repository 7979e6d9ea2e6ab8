"""Seeded operation streams. Pure Python: a seed and a size fully decide
every request, so two runs with the same seed send the same operations
in the same order, and the program only ever sees the generated inputs.

The query vocabulary is the generated corpus's own (corpus.py): zipfian
code keywords (hot), ``idNNNN`` rare identifiers (selective) and the
ultra-rare ``uidNNNNN`` tail (df ~ 2 docs at the benchmark size).
"""

from __future__ import annotations

import hashlib

import numpy as np

from librecatastro_spark.corpus import LANGS, VOCAB

HOT = [str(t).lower() for t in VOCAB[:30]]
# hot-hot phrases whose estimated positions-decode volume exceeds the
# coordinator cap, so match_phrase_local routes them to the cluster
# ("def" alone holds ~15% of all tokens)
HOT_PHRASE_TAILS = HOT[1:6]
N_RARE = 2000

SHAPES = ("hot_or", "hot_rare", "and_uid", "lang", "prefix", "rare", "k100")


def _rng(seed: int, stream: str) -> np.random.Generator:
    salt = int.from_bytes(hashlib.sha256(stream.encode()).digest()[:4], "little")
    return np.random.default_rng([int(seed), salt])


def _hot(rng, n):
    return [HOT[i] for i in rng.choice(len(HOT), n, replace=False)]


def _rare(rng):
    return f"id{int(rng.integers(N_RARE)):04d}"


def term_query(rng, shape: str, n_docs: int) -> dict:
    """One search request (``search`` / ``search_local`` keywords)."""
    if shape == "hot_or":
        return dict(text=" ".join(_hot(rng, 3)), k=10)
    if shape == "hot_rare":
        return dict(text=" ".join(_hot(rng, 2) + [_rare(rng)]), k=10)
    if shape == "and_uid":
        # intersection-pruned: only the hot term's blocks whose doc range
        # holds the uid's docs decode, inline, bypassing the decode cache
        uid = f"uid{int(rng.integers(n_docs)):05d}"
        return dict(text=f"{_hot(rng, 1)[0]} {uid}", k=10, require_all=True)
    if shape == "lang":
        lang = LANGS[int(rng.integers(len(LANGS)))]
        return dict(text=" ".join(_hot(rng, 2)), k=10, filters={"lang": lang})
    if shape == "prefix":
        mod = int(rng.integers(23))
        return dict(text=" ".join(_hot(rng, 2)), k=10,
                    prefix=("path", f"src/mod{mod}/"))
    if shape == "rare":
        return dict(text=f"{_rare(rng)} {_rare(rng)}", k=10)
    if shape == "k100":
        return dict(text=" ".join(_hot(rng, 3)), k=100)
    raise ValueError(f"unknown shape {shape!r}")


def term_queries(rng, count: int, n_docs: int) -> list[dict]:
    """``count`` requests, every shape equally often: shapes repeat in
    blocks of len(SHAPES), each block in a seeded order."""
    out: list[dict] = []
    while len(out) < count:
        for j in rng.permutation(len(SHAPES)):
            out.append({"shape": SHAPES[j], **term_query(rng, SHAPES[j], n_docs)})
    return out[:count]


def phrase_sel(rng) -> str:
    return f"{_rare(rng)} {_hot(rng, 1)[0]}"


def phrase_hot(rng) -> str:
    tail = HOT_PHRASE_TAILS[int(rng.integers(len(HOT_PHRASE_TAILS)))]
    return f"def {tail}" if rng.integers(2) else f"{tail} def"


def serve_ops(seed: int, rounds: int, n_docs: int) -> list[dict]:
    """Per round: 14 coordinator queries (two of each shape), one
    selective phrase and two cluster searches, plus a hot phrase (a Spark
    job, ~0.8 s) every third round. The coordinator operations of all
    rounds run first, shuffled, then the Spark operations, so no
    coordinator query runs beside the JVM's clean-up after a job. Cluster
    searches cycle through the shapes like the coordinator queries."""
    rng = _rng(seed, "serve")
    local = [{"kind": "coord", **q} for q in term_queries(rng, 14 * rounds, n_docs)]
    local += [{"kind": "phrase_sel", "text": phrase_sel(rng)} for _ in range(rounds)]
    spark = [{"kind": "cluster", **q} for q in cluster_requests(seed, 2 * rounds, n_docs)]
    spark += [{"kind": "phrase_hot", "text": phrase_hot(rng)}
              for _ in range((rounds + 2) // 3)]
    return ([local[i] for i in rng.permutation(len(local))]
            + [spark[i] for i in rng.permutation(len(spark))])


def new_docs(seed: int, cycle: int, first_id: int, count: int) -> list[dict]:
    """Rows for one append batch. Every doc carries the batch token; the
    first doc also carries a probe token no other doc has."""
    rng = _rng(seed, f"append-{cycle}")
    batch_tok, probe_tok = batch_tokens(seed, cycle)
    rows = []
    for j in range(count):
        did = first_id + j
        words = [str(w) for w in VOCAB[rng.integers(0, 200, 300)]]
        words.append(batch_tok)
        if j == 0:
            words.append(probe_tok)
        content = " ".join(words)
        lang = LANGS[did % len(LANGS)]
        rows.append(dict(
            doc_id=did, repo=f"orgnew/repo{cycle}",
            path=f"src/new{cycle}/file{did}.{lang}", lang=lang,
            content=content,
            content_sha256=hashlib.sha256(content.encode()).hexdigest(),
        ))
    return rows


def batch_tokens(seed: int, cycle: int) -> tuple[str, str]:
    return f"nbatch{seed}c{cycle}", f"nprobe{seed}c{cycle}"


def victims(seed: int, cycle: int, alive_tail: list[int], count: int,
            prev_probe: int | None) -> list[int]:
    """Doc ids one delete batch removes: the previous cycle's probe doc
    (so its disappearance is checkable) plus seeded tail-shard ids."""
    rng = _rng(seed, f"delete-{cycle}")
    out = [] if prev_probe is None else [prev_probe]
    pool = [d for d in alive_tail if d != prev_probe]
    picks = rng.choice(len(pool), count - len(out), replace=False)
    out += [pool[i] for i in sorted(picks)]
    return sorted(out)


def append_cycle_queries(seed: int, cycle: int, count: int,
                         n_docs: int) -> list[dict]:
    return term_queries(_rng(seed, f"reads-{cycle}"), count, n_docs)


def cluster_requests(seed: int, count: int, n_docs: int) -> list[dict]:
    return term_queries(_rng(seed, "cluster"), count, n_docs)

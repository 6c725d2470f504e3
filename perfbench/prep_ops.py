"""prep_ops: the data-prep operators on seeded lake tables, each call
from a cleared Spark cache. ``graph`` is PageRank over an edge table;
``dedup`` is the canonical-pick chain: bigram-Jaccard near-duplicate
pairs, connected components, then a min-by survivor per component.
Plan construction and driver loops carry these; manifests and commits
do almost nothing."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from common import Op, add_segments

MUTATES = False
ROUND = {"graph": 1, "dedup": 1}
ROUND_S = 5.0                 # nominal seconds one round takes
WARMUP_ROUNDS = 1             # untimed, from another seed

SIZES = {"full": {"nodes": 600, "extra_edges": 1800, "docs": 200,
                  "families": 60},
         "tiny": {"nodes": 60, "extra_edges": 120, "docs": 40,
                  "families": 12}}
DAMPING, ITERATIONS = 0.85, 6        # as the graph_pagerank_centrality gate


def generate(seed: int, size: str) -> dict:
    """A graph in which every node has an out-edge (a ring plus seeded
    extra edges), and documents in near-duplicate families."""
    sz = SIZES[size]
    rng = np.random.default_rng(seed)
    n = sz["nodes"]
    ring = np.arange(n, dtype=np.int64)
    src = np.concatenate([ring, rng.integers(0, n, sz["extra_edges"])])
    dst = np.concatenate([(ring + 1) % n,
                          rng.integers(0, n, sz["extra_edges"])])
    edges = pd.DataFrame({"src": src.astype(np.int64),
                          "dst": dst.astype(np.int64)})
    # Doc i belongs to family i % families and differs from its base in
    # at most one word: any two family members share >= 9 of <= 17
    # bigrams (Jaccard >= 0.53), so every family is a clique and
    # connected_components converges in the same number of rounds for
    # every seed. Bases from a 3000-word vocabulary share no bigram.
    vocab = [f"w{i}" for i in range(3000)]
    bases = [list(rng.choice(vocab, 14)) for _ in range(sz["families"])]
    texts = []
    for i in range(sz["docs"]):
        words = list(bases[i % len(bases)])
        if rng.random() < 0.5:
            words[int(rng.integers(0, len(words)))] = \
                vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(words))
    docs = pd.DataFrame({"doc_id": np.arange(sz["docs"], dtype=np.int64),
                         "text": texts,
                         "n_chars": np.array([len(t) for t in texts],
                                             dtype=np.int64)})
    return {"edges": edges, "docs": docs}


def setup(eng, data: dict, stage_dir: str) -> dict:
    """The two inputs become one-segment lake tables."""
    eng.sql("CREATE TABLE edges (src BIGINT, dst BIGINT)")
    eng.sql("CREATE TABLE docs (doc_id BIGINT, text STRING, n_chars BIGINT)")
    for t in ("edges", "docs"):
        add_segments(eng, t, [data[t]], stage_dir)
    return {"eng": eng, "tables": ["edges", "docs"]}


def op_sequence(seed: int, rounds: int, data: dict) -> list[Op]:
    rng = random.Random(seed * 31 + 3)
    ops: list[Op] = []
    for _ in range(rounds):
        batch = [c for c, k in ROUND.items() for _ in range(k)]
        rng.shuffle(batch)
        for cls in batch:
            ops.append(Op(len(ops), cls, cls))
    return ops


def prepare(state: dict, op: Op) -> None:
    state["eng"].spark.catalog.clearCache()


def run_op(state: dict, op: Op, clock) -> None:
    # looked up at call time, so traced runs see the wrapped operators
    from cdh_integrate_carbondata2_3_spark.operators import dedup, graph
    from pyspark.sql import functions as F

    eng = state["eng"]
    t0 = clock()
    if op.cls == "graph":
        out = graph.pagerank(eng.table("edges").read(), "src", "dst",
                             damping=DAMPING, iterations=ITERATIONS)
    else:
        docs = eng.table("docs").read()
        pairs = dedup.ngram_jaccard_near_dups(docs, "doc_id", "text", n=2,
                                              df_cap=100, threshold=0.5)
        comps = graph.connected_components(pairs, "id_a", "id_b")
        j = comps.join(docs.select("doc_id", "n_chars"),
                       comps["node"] == F.col("doc_id"))
        out = j.groupBy("comp").agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min_by(F.struct(F.col("node"), F.col("n_chars")),
                     F.struct((-F.col("n_chars")).alias("negc"),
                              F.col("node"))).alias("c")) \
            .select("comp", "n_members", F.col("c.node").alias("canonical"))
    t1 = clock()
    rows = out.collect()
    t2 = clock()
    op.call_s, op.action_s, op.latency_s = t1 - t0, t2 - t1, t2 - t0
    op.result = sorted(tuple(r) for r in rows)


# ------------------------------------------------------------- checks

def _pagerank_reference(edges: pd.DataFrame, n: int) -> np.ndarray:
    src, dst = edges["src"].to_numpy(), edges["dst"].to_numpy()
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    r = np.full(n, 1.0 / n)
    for _ in range(ITERATIONS):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] / outdeg[src])
        r = (1 - DAMPING) / n + DAMPING * contrib
    return r


def _expected_survivors(docs: pd.DataFrame) -> list[tuple]:
    """Pure Python: bigram sets, rare-bigram candidates, Jaccard >= 0.5,
    union-find components, and the longest (then lowest-id) member."""
    grams = {}
    for d, t in zip(docs["doc_id"], docs["text"]):
        w = t.strip().split()
        grams[int(d)] = {f"{a} {b}" for a, b in zip(w, w[1:])}
    df: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    posting: dict[str, list[int]] = {}
    for d, gs in grams.items():
        for g in gs:
            if df[g] <= 100:
                posting.setdefault(g, []).append(d)
    cand = set()
    for ds in posting.values():
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                cand.add((min(a, b), max(a, b)))
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in cand:
        inter = len(grams[a] & grams[b])
        if inter / (len(grams[a]) + len(grams[b]) - inter) >= 0.5:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    n_chars = dict(zip(docs["doc_id"].astype(int), docs["n_chars"].astype(int)))
    comps: dict[int, list[int]] = {}
    for x in list(parent):
        comps.setdefault(find(x), []).append(x)
    return sorted((min(m), len(m), min(m, key=lambda x: (-n_chars[x], x)))
                  for m in comps.values())


def check(data: dict, ops: list[Op], state: dict) -> list[str]:
    bad = []
    n = int(max(data["edges"]["src"].max(), data["edges"]["dst"].max())) + 1
    ref = _pagerank_reference(data["edges"], n)
    survivors = _expected_survivors(data["docs"])
    for op in ops:
        if op.error is not None:
            continue
        if op.cls == "graph":
            ranks = dict(op.result)
            total = sum(ranks.values())
            if abs(total - 1.0) > 1e-9:
                bad.append(f"op {op.index}: sum(rank) = {total!r}")
            err = max(abs(ranks.get(i, -1.0) - ref[i]) for i in range(n))
            if len(ranks) != n or err > 1e-9:
                bad.append(f"op {op.index}: ranks off by {err:.3g}")
        elif op.result != survivors:
            bad.append(f"op {op.index}: {len(op.result)} components != "
                       f"union-find {len(survivors)}")
    return bad

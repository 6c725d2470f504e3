"""lake_read: Engine.sql SELECTs only, over a fact table sorted on ``id``
(tens of segments with disjoint key ranges), a small dim table and one
materialized view. No writes, so the engine's view-registration and
manifest caches stay hot."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd

from common import Op, add_segments, norm, run_sql_op

MUTATES = False
# ops of each class in one round; rounds are shuffled and concatenated
ROUND = {"point": 4, "scan": 2, "join": 2, "meta": 2, "mv": 2}
ROUND_S = 4.7                 # nominal seconds one round takes
WARMUP_ROUNDS = 1             # untimed, from another seed

SIZES = {"full": {"segments": 24, "files": 2, "rows": 10_000},
         "tiny": {"segments": 4, "files": 2, "rows": 500}}

N_CAT, N_GRP = 50, 100

Q_SCAN = "SELECT grp, SUM(amt) AS s, COUNT(*) AS c FROM fact GROUP BY grp"
Q_JOIN = ("SELECT dim.label, SUM(fact.amt) AS s, COUNT(fact.id) AS c "
          "FROM fact JOIN dim ON fact.cat = dim.cat GROUP BY dim.label")
Q_MV = "SELECT cat, SUM(amt) AS s, COUNT(id) AS c FROM fact GROUP BY cat"
Q_COUNT = "SELECT COUNT(*) AS n FROM fact"
Q_MINMAX = "SELECT MIN(id) AS lo, MAX(id) AS hi FROM fact"


def generate(seed: int, size: str) -> dict:
    """The fact rows per segment (sorted, disjoint id ranges) and the
    dim rows, from the seed alone."""
    sz = SIZES[size]
    rng = np.random.default_rng(seed)
    n = sz["rows"]
    segs = []
    base = 0
    for _ in range(sz["segments"]):
        # strictly increasing ids with random gaps: disjoint ranges
        ids = base + np.cumsum(rng.integers(1, 4, n)).astype(np.int64)
        base = int(ids[-1]) + 1
        segs.append(pd.DataFrame({
            "id": ids,
            "cat": rng.integers(0, N_CAT, n).astype(np.int32),
            "grp": rng.integers(0, N_GRP, n).astype(np.int32),
            # whole numbers: every SUM is exact in double arithmetic
            "amt": rng.integers(0, 10_000, n).astype(np.float64),
            "name": np.char.add("n", rng.integers(0, 5000, n).astype(str)),
        }))
    dim = pd.DataFrame({"cat": np.arange(N_CAT, dtype=np.int32),
                        "label": [f"L{int(x)}" for x in
                                  rng.integers(0, 7, N_CAT)]})
    return {"segments": segs, "dim": dim, "files": sz["files"]}


def setup(eng, data: dict, stage_dir: str) -> dict:
    """Register the generated segment folders with ADD SEGMENT (no Spark
    write job per segment), then build the MV."""
    eng.sql("CREATE TABLE fact (id BIGINT, cat INT, grp INT, amt DOUBLE, "
            "name STRING)")
    eng.sql("CREATE TABLE dim (cat INT, label STRING)")
    add_segments(eng, "fact", data["segments"], stage_dir, data["files"])
    add_segments(eng, "dim", [data["dim"]], stage_dir)
    eng.sql(f"CREATE MATERIALIZED VIEW mv_cat AS {Q_MV}")
    return {"eng": eng, "tables": ["fact", "dim"]}


def op_sequence(seed: int, rounds: int, data: dict) -> list[Op]:
    """A fixed list: ``rounds`` seeded shuffles of ROUND, interleaving
    the classes. Point keys are drawn from the generated ids."""
    rng = random.Random(seed * 7919 + 1)
    ids = np.concatenate([s["id"].to_numpy() for s in data["segments"]])
    ops: list[Op] = []
    for _ in range(rounds):
        batch = [c for c, k in ROUND.items() for _ in range(k)]
        rng.shuffle(batch)
        n_meta = 0
        for cls in batch:
            if cls == "point":
                k = int(ids[rng.randrange(len(ids))])
                text = f"SELECT id, cat, grp, amt, name FROM fact WHERE id = {k}"
                arg = k
            elif cls == "meta":
                text, arg = (Q_COUNT, None) if n_meta % 2 == 0 else (Q_MINMAX, None)
                n_meta += 1
            else:
                text, arg = {"scan": Q_SCAN, "join": Q_JOIN, "mv": Q_MV}[cls], None
            ops.append(Op(len(ops), cls, text, arg))
    return ops


run_op = run_sql_op


def check(data: dict, ops: list[Op], state: dict) -> list[str]:
    """Compare every op's rows with a DuckDB twin over the same rows."""
    import duckdb

    con = duckdb.connect()
    fact = pd.concat(data["segments"], ignore_index=True)  # noqa: F841
    dim = data["dim"]                                        # noqa: F841
    con.execute("CREATE TABLE fact AS SELECT * FROM fact")
    con.execute("CREATE TABLE dim AS SELECT * FROM dim")
    want: dict[str, list] = {}
    bad = []
    for op in ops:
        if op.error is not None:
            continue
        if op.text not in want:
            want[op.text] = sorted(
                tuple(norm(v) for v in r)
                for r in con.execute(op.text).fetchall())
        got = op.result
        if got != want[op.text]:
            bad.append(f"op {op.index} ({op.cls}) {op.text!r}: "
                       f"{got[:3]} != {want[op.text][:3]}")
    con.close()
    return bad


"""lake_write: a fixed, seeded statement list on a sorted fact table:
INSERT batches, copy-on-write UPDATE / DELETE, MERGE, DELETE on a
second ``'iud.mode'='mor'`` table, ``ALTER TABLE ... COMPACT`` at fixed
positions, and a read-after-write scan after every write. The list has
a fixed length, so both commits of a comparison end with the same
segment and file counts."""

from __future__ import annotations

import random
import re

import numpy as np
import pandas as pd

from common import Op, norm, run_sql_op

MUTATES = True               # warm up on a copy, trace on another
WRITES = ("insert", "update", "delete", "merge", "mor_delete")
ROUND_S = 10.0               # nominal seconds one cycle takes
WARMUP_ROUNDS = 1            # untimed, from another seed

SIZES = {"full": {"cow_loads": 3, "mor_loads": 1, "rows": 4000,
                  "batch": 1000, "span": 100},
         "tiny": {"cow_loads": 2, "mor_loads": 1, "rows": 500,
                  "batch": 250, "span": 40}}
# Updates, deletes and the matched half of a MERGE hit a key range
# inside one BLOCK of an initial load. A load writes one file per
# Spark partition and a block is at most one partition's share for up
# to 16 cores, so each of these statements touches one file whatever
# the seed: seeds move the work, they do not change its amount.
BLOCK = 250

SCHEMA = "id BIGINT, cat INT, grp INT, amt DOUBLE, name STRING"
Q_READ = "SELECT grp, SUM(amt) AS s, COUNT(*) AS c FROM {t} GROUP BY grp"


def _rows(rng: np.random.Generator, lo: int, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "id": np.arange(lo, lo + n, dtype=np.int64),
        "cat": rng.integers(0, 50, n).astype(np.int32),
        "grp": rng.integers(0, 100, n).astype(np.int32),
        "amt": rng.integers(0, 10_000, n).astype(np.float64),
        "name": np.char.add("n", rng.integers(0, 5000, n).astype(str)),
    })


def generate(seed: int, size: str) -> dict:
    sz = SIZES[size]
    rng = np.random.default_rng(seed)
    n = sz["rows"]
    cow = [_rows(rng, i * n, n) for i in range(sz["cow_loads"])]
    mor = [_rows(rng, i * n, n) for i in range(sz["mor_loads"])]
    return {"cow": cow, "mor": mor, "size": sz}


def setup(eng, data: dict, stage_dir: str) -> dict:
    """Both tables loaded through Engine.sql INSERT, one segment per load."""
    spark = eng.spark
    eng.sql(f"CREATE TABLE fw ({SCHEMA})")
    eng.sql(f"CREATE TABLE fm ({SCHEMA}) TBLPROPERTIES('iud.mode'='mor')")
    for t, loads in (("fw", data["cow"]), ("fm", data["mor"])):
        for pdf in loads:
            spark.createDataFrame(pdf).createOrReplaceTempView("load_src")
            eng.sql(f"INSERT INTO {t} SELECT * FROM load_src")
    return {"eng": eng, "tables": ["fw", "fm"]}


def op_sequence(seed: int, cycles: int, data: dict) -> list[Op]:
    """Per cycle: the five writes, each followed by a read of the table
    it wrote, then a minor compaction and a read. The order is fixed, so
    every seed meets the same table layout at each step; the seed picks
    the keys, the increments and the inserted rows."""
    sz = data["size"]
    rng = random.Random(seed * 104_729 + 2)
    nrng = np.random.default_rng(seed + 17)
    base_hi = next_id = sz["cow_loads"] * sz["rows"]
    mor_hi = sz["mor_loads"] * sz["rows"]
    ops: list[Op] = []

    def add(cls, text, arg=None):
        ops.append(Op(len(ops), cls, text, arg))

    def in_block(hi: int, width: int) -> int:
        """A seeded start for ``width`` keys inside one block below hi."""
        return rng.randrange(0, hi // BLOCK) * BLOCK \
            + rng.randrange(0, BLOCK - width)

    for _ in range(cycles):
        for w in WRITES:
            span = sz["span"]
            if w == "insert":
                pdf = _rows(nrng, next_id, sz["batch"])
                next_id += sz["batch"]
                add(w, f"INSERT INTO fw SELECT * FROM ins_{len(ops)}",
                    {"view": f"ins_{len(ops)}", "rows": pdf})
            elif w == "update":
                lo = in_block(base_hi, span)
                add(w, f"UPDATE fw SET amt = amt + {rng.randrange(1, 9)} "
                       f"WHERE id BETWEEN {lo} AND {lo + span - 1}")
            elif w == "delete":
                lo = in_block(base_hi, span)
                add(w, f"DELETE FROM fw WHERE id BETWEEN {lo} "
                       f"AND {lo + span // 4}")
            elif w == "merge":
                # one block's worth of keys matches, as many are new
                lo = in_block(base_hi, span)
                pdf = pd.concat([_rows(nrng, lo, span),
                                 _rows(nrng, next_id, BLOCK)],
                                ignore_index=True)
                next_id += BLOCK
                src = f"msrc_{len(ops)}"
                add(w, f"MERGE INTO fw t USING {src} s ON t.id = s.id "
                       "WHEN MATCHED THEN UPDATE SET amt = s.amt "
                       "WHEN NOT MATCHED THEN INSERT *",
                    {"table": src, "rows": pdf})
            else:
                lo = in_block(mor_hi, span)
                add(w, f"DELETE FROM fm WHERE id BETWEEN {lo} "
                       f"AND {lo + span // 4}")
            if w == "mor_delete":
                add("mor_read", Q_READ.format(t="fm"))
            else:
                add("read", Q_READ.format(t="fw"))
        add("compact", "ALTER TABLE fw COMPACT 'minor'")
        add("read", Q_READ.format(t="fw"))
    return ops


def prepare(state: dict, op: Op) -> None:
    """Untimed client-side staging: the rows an INSERT reads, or the
    managed source table a MERGE reads."""
    eng = state["eng"]
    if op.cls == "insert":
        eng.spark.createDataFrame(op.arg["rows"]) \
            .createOrReplaceTempView(op.arg["view"])
    elif op.cls == "merge":
        t = op.arg["table"]
        eng.sql(f"CREATE TABLE {t} ({SCHEMA})")
        eng.spark.createDataFrame(op.arg["rows"]) \
            .createOrReplaceTempView("merge_stage")
        eng.sql(f"INSERT INTO {t} SELECT * FROM merge_stage")


run_op = run_sql_op


def check(data: dict, ops: list[Op], state: dict) -> list[str]:
    """Replay the identical statement list on a DuckDB twin; every read,
    every DML row count and the final tables must match."""
    import duckdb

    final = {t: sorted(tuple(norm(v) for v in r) for r in state["eng"].sql(
                 f"SELECT id, cat, grp, amt, name FROM {t}").collect())
             for t in state["tables"]}
    con = duckdb.connect()
    con.execute(f"CREATE TABLE fw ({SCHEMA})")
    con.execute(f"CREATE TABLE fm ({SCHEMA})")
    for t, loads in (("fw", data["cow"]), ("fm", data["mor"])):
        for pdf in loads:
            con.execute(f"INSERT INTO {t} SELECT * FROM pdf")
    bad = []
    for op in ops:
        want = _replay(con, op)
        if op.error is not None:
            continue
        got = _engine_answer(op)
        if got is not None and got != want:
            bad.append(f"op {op.index} ({op.cls}) {op.text[:60]!r}: "
                       f"{str(got)[:120]} != {str(want)[:120]}")
    for t, rows in final.items():
        twin = sorted(tuple(norm(v) for v in r) for r in con.execute(
            f"SELECT id, cat, grp, amt, name FROM {t}").fetchall())
        if rows != twin:
            bad.append(f"final {t}: {len(rows)} rows != twin {len(twin)}")
    con.close()
    return bad


def _replay(con, op: Op):
    if op.cls == "insert":
        pdf = op.arg["rows"]                         # noqa: F841
        con.execute("INSERT INTO fw SELECT * FROM pdf")
        return None
    if op.cls == "merge":
        pdf = op.arg["rows"]                         # noqa: F841
        con.execute("CREATE TEMP TABLE s AS SELECT * FROM pdf")
        upd = con.execute("SELECT COUNT(*) FROM s WHERE id IN "
                          "(SELECT id FROM fw)").fetchone()[0]
        con.execute("UPDATE fw SET amt = s.amt FROM s WHERE fw.id = s.id")
        ins = con.execute("INSERT INTO fw SELECT * FROM s WHERE id NOT IN "
                          "(SELECT id FROM fw)").fetchone()[0]
        con.execute("DROP TABLE s")
        return [(upd, 0, ins)]
    if op.cls == "compact":
        return None                                  # physical layout only
    if op.cls in ("read", "mor_read"):
        return sorted(tuple(norm(v) for v in r)
                      for r in con.execute(op.text).fetchall())
    return con.execute(op.text).fetchone()[0]        # DML row count


def _engine_answer(op: Op):
    if op.cls in ("insert", "compact"):
        return None
    if op.cls in ("read", "mor_read", "merge"):
        return op.result
    m = re.match(r"(?:updated|deleted) (\d+)$", op.result[0][0])
    return int(m.group(1)) if m else op.result[0][0]


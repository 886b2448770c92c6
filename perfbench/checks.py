"""Correctness checks of the benchmark's outputs, each computed apart from
graft: the two views are replayed from the generated changelogs in plain
Python; the board queries are run by DuckDB (SparkEntry.oracleSql, or a
power iteration for q134_pagerank, which has no oracle).

Every check returns a list of problems; an empty list is a pass.
"""
import math
import sys
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

# the repository's oracle comparison: columns by name, rows sorted by every
# column, NaN equal to NaN
sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from check import norm, values_equal  # noqa: E402

# ---- streaming views -------------------------------------------------------


def states(feed: dict):
    """Yield (round, facts {a: (ver, fk, val)}, dims {b: (ver, val)}) after
    each round of the fact and dim changelogs, latest version wins and
    tombstones drop the key."""
    facts, dims = {}, {}
    fa, di = feed["facts"], feed["dims"]
    fi = di_i = 0
    n_rounds = int(max(fa[:, 0].max(), di[:, 0].max())) + 1
    fa_l, di_l = fa.tolist(), di.tolist()
    for rnd in range(n_rounds):
        latest = {}
        while fi < len(fa_l) and fa_l[fi][0] == rnd:
            _, a, ver, d, fk, val = fa_l[fi]
            latest[a] = (ver, d, fk, val)
            fi += 1
        for a, (ver, d, fk, val) in latest.items():
            if d:
                facts.pop(a, None)
            else:
                facts[a] = (ver, fk, val)
        latest = {}
        while di_i < len(di_l) and di_l[di_i][0] == rnd:
            _, bk, ver, d, val = di_l[di_i]
            latest[bk] = (ver, d, val)
            di_i += 1
        for bk, (ver, d, val) in latest.items():
            if d:
                dims.pop(bk, None)
            else:
                dims[bk] = (ver, val)
        yield rnd, facts, dims


def joined_rows(facts: dict, dims: dict) -> list:
    """Left outer join of the latest facts with the latest dims."""
    rows = []
    for a, (ver, fk, val) in facts.items():
        d = dims.get(fk)
        rows.append((a, ver, fk, val, None if d is None else d[1],
                     None if d is None else f"d{fk}v{d[0]}"))
    return rows


def fact_checksum(a, ver, fk, val) -> int:
    return a * 1000003 + ver * 7919 + fk * 31 + val


def join_checksum(row) -> int:
    a, ver, fk, val, b_val, _ = row
    return fact_checksum(a, ver, fk, val) + (-1 if b_val is None else b_val) * 13


def check_stream_ops(feed: dict, ops: list) -> dict:
    """Per-round check of both views' row counts and checksums. Returns
    {unit: [problems]} for every op."""
    want = {}
    last = max((o["round"] for o in ops), default=-1)
    for rnd, facts, dims in states(feed):
        if rnd > last:
            break
        rows = joined_rows(facts, dims)
        want[rnd] = (len(facts), sum(fact_checksum(a, *f) for a, f in facts.items()),
                     len(rows), sum(join_checksum(r) for r in rows))
    out = {}
    for o in ops:
        got = (o["mv_rows"], o["mv_checksum"], o["join_rows"], o["join_checksum"])
        w = want.get(o["round"])
        out[o["unit"]] = ([] if got == w else
                          [f"{o['unit']}: (mv rows, mv sum, join rows, join sum) {got} != {w}"])
    return out


def check_stream_final(feed: dict, last_round: int, mv: pd.DataFrame,
                       join: pd.DataFrame) -> list:
    """Every row of both final views against the replayed state."""
    for rnd, facts, dims in states(feed):
        if rnd == last_round:
            break
    else:
        return [f"no state for round {last_round}"]
    mv_want = pd.DataFrame([(a, ver, fk, val, False) for a, (ver, fk, val) in facts.items()],
                           columns=["a_id", "a_ver", "fk", "a_val", "deleted"])
    cols = ["a_id", "a_ver", "fk", "a_val", "b_val", "b_name"]
    join_want = pd.DataFrame(joined_rows(facts, dims), columns=cols)
    return ([f"mv {p}" for p in compare_query(mv, mv_want)] +
            [f"join {p}" for p in compare_query(join, join_want)])


# ---- board queries ---------------------------------------------------------

BOARD_TABLES = ("documents", "lineitem")

# q134_pagerank has no oracle: the same PageRank, computed by DuckDB as a
# 10-round power iteration over the q43 pair graph (char-trigram Jaccard >=
# 0.6 within a source), compared within PAGERANK_RTOL.
PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85
PAGERANK_RTOL = 1e-9


def board_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in BOARD_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def pagerank_oracle(con, q43_sql: str) -> pd.DataFrame:
    """PageRank over the q43 oracle's pairs, its 0.3 threshold raised to
    the 0.6 q134_pagerank uses."""
    if q43_sql.count(">= 0.3") != 1:
        raise ValueError("q43 oracle SQL no longer has one '>= 0.3' threshold to raise")
    pairs = con.sql(q43_sql.replace(">= 0.3", ">= 0.6")).df()
    src = np.concatenate([pairs["doc_a"].to_numpy(), pairs["doc_b"].to_numpy()])
    dst = np.concatenate([pairs["doc_b"].to_numpy(), pairs["doc_a"].to_numpy()])
    nodes = np.unique(src)
    if len(nodes) == 0:
        return pd.DataFrame({"doc_id": pd.Series([], "int64"), "rank": pd.Series([], "float64")})
    idx = {n: i for i, n in enumerate(nodes.tolist())}
    si = np.array([idx[x] for x in src.tolist()])
    di = np.array([idx[x] for x in dst.tolist()])
    deg = np.bincount(si, minlength=len(nodes)).astype(np.float64)
    n = len(nodes)
    rank = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERS):
        contrib = np.bincount(di, weights=rank[si] / deg[si], minlength=n)
        rank = (1 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * contrib
    return pd.DataFrame({"doc_id": nodes.astype(np.int64), "rank": rank})


def compare_query(got: pd.DataFrame, want: pd.DataFrame, rtol: float = 0.0) -> list:
    """Row count, schema and sorted values; exact unless `rtol` is given."""
    raw_got = [str(t) for t in got.reindex(sorted(got.columns), axis=1).dtypes]
    raw_want = [str(t) for t in want.reindex(sorted(want.columns), axis=1).dtypes]
    g, w = norm(got), norm(want)
    if list(g.columns) != list(w.columns):
        return [f"columns {list(g.columns)} != {list(w.columns)}"]
    if len(g) != len(w):
        return [f"rows {len(g)} != {len(w)}"]
    if raw_got != raw_want:
        return [f"dtypes {raw_got} != {raw_want}"]
    problems = []
    for c in g.columns:
        for i, (x, y) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            ok = (math.isclose(x, y, rel_tol=rtol) if rtol and isinstance(x, float)
                  and isinstance(y, float) else values_equal(x, y))
            if not ok:
                problems.append(f"{c}[{i}]: {x!r} != {y!r}")
                break
    return problems

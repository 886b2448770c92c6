"""Seeded inputs of the two workloads.

Every generator takes a numpy Generator built from the run's --seed, so one
seed always gives the same inputs. The changelogs are written as CSV for the
JVM side and returned as arrays for the checkers, which replay them without
graft. The board tables mirror the shape of the sf0.1 test tables (same
columns, types and value ranges) so the board queries and their DuckDB
oracles see the data they were written for.
"""
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- streaming -------------------------------------------------------------
# Sizes are those of graft.StreamBench's small batches (STREAMBENCH.json,
# the figures ROADMAP item 2 rests on): 2,000 fact rows a batch, a tenth as
# many dim rows a batch over 200 dim keys, 16 buckets (run.py). Round 0 loads
# the 10,000 fact keys StreamBench's views hold after its five batches, so
# later rounds are update-heavy. StreamBench has no deletes and no fk moves;
# the shares below add them so the tombstone and re-join paths run. No
# measurement fixes their values, and the per-layer counts do not depend on
# them (perfbench/README.md, "Input shares").
FACT_KEYS = 10_000
DIM_KEYS = 200
FACT_ROWS = 2_000      # fact changes per round
DIM_ROWS = 200         # dim changes per round
FACT_DELETE = 0.08     # share of changes to a live fact that delete it
FK_MOVE = 0.20         # share of changes to a live fact that move its fk
DIM_DELETE = 0.05      # share of dim changes that delete the dim
ROUNDS = 40            # far more than a run applies; the JVM fails loudly if it runs out


def _write_csv(path: Path, rows: np.ndarray) -> None:
    np.savetxt(path, rows, fmt="%d", delimiter=",")


def stream_feed(rng: np.random.Generator, out: Path) -> dict:
    """Fact rows (round, a_id, a_ver, deleted, fk, a_val) and dim rows
    (round, b_id, b_ver, deleted, b_val), versions increasing per table."""
    fks = rng.integers(0, DIM_KEYS, FACT_KEYS).tolist()
    vals = rng.integers(0, 1_000_000, FACT_KEYS).tolist()
    facts = [(0, a, a + 1, 0, fk, val) for a, (fk, val) in enumerate(zip(fks, vals))]
    live_fk = dict(enumerate(fks))
    dvals = rng.integers(0, 1_000_000, DIM_KEYS).tolist()
    dims = [(0, d, d + 1, 0, val) for d, val in enumerate(dvals)]
    for rnd in range(1, ROUNDS):
        keys = rng.integers(0, FACT_KEYS, FACT_ROWS).tolist()
        u = rng.random(FACT_ROWS).tolist()
        new_fk = rng.integers(0, DIM_KEYS, FACT_ROWS).tolist()
        vals = rng.integers(0, 1_000_000, FACT_ROWS).tolist()
        for a, x, nf, val in zip(keys, u, new_fk, vals):
            fk = live_fk.get(a)
            if fk is not None and x < FACT_DELETE:
                del live_fk[a]
                facts.append((rnd, a, len(facts) + 1, 1, fk, val))
                continue
            if fk is None or x < FACT_DELETE + FK_MOVE:
                fk = nf
            live_fk[a] = fk
            facts.append((rnd, a, len(facts) + 1, 0, fk, val))
        dkeys = rng.integers(0, DIM_KEYS, DIM_ROWS).tolist()
        du = rng.random(DIM_ROWS).tolist()
        dvals = rng.integers(0, 1_000_000, DIM_ROWS).tolist()
        for d, x, val in zip(dkeys, du, dvals):
            dims.append((rnd, d, len(dims) + 1, int(x < DIM_DELETE), val))
    out.mkdir(parents=True, exist_ok=True)
    fa = np.array(facts, dtype=np.int64)
    di = np.array(dims, dtype=np.int64)
    _write_csv(out / "facts.csv", fa)
    _write_csv(out / "dims.csv", di)
    return {"facts": fa, "dims": di}


# ---- board_heavy -----------------------------------------------------------
BOARD_SF = 0.02
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DAY_US = 86_400 * 1_000_000


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def board_tables(rng: np.random.Generator, out: Path) -> None:
    """documents and lineitem (what the board queries read) at BOARD_SF."""
    out.mkdir(parents=True, exist_ok=True)
    n_docs = int(50_000 * BOARD_SF)
    n_orders = int(1_500_000 * BOARD_SF)
    n_lines = int(6_000_000 * BOARD_SF)
    n_parts = int(200_000 * BOARD_SF)

    # documents: random word runs; 5% are a same-source earlier doc plus
    # " dup", a few are exact copies — the near-duplicate structure the
    # dedup and graph queries look for
    lengths = rng.integers(10, 100, n_docs)
    words = rng.integers(0, len(WORDS), int(lengths.sum()))
    kind = rng.random(n_docs)
    texts, pos = [], 0
    for i, ln in enumerate(lengths.tolist()):
        t = " ".join(WORDS[w] for w in words[pos:pos + ln])
        pos += ln
        if i >= 20 and kind[i] < 0.05:
            t = texts[i - 20] + " dup"
        elif i >= 20 and kind[i] < 0.052:
            t = texts[i - 20]
        texts.append(t)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out / "documents.parquet")

    pq.write_table(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_parts // 20, n_lines), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(_cents(rng, 900, 105_000, n_lines), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_lines), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_lines), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
    }), out / "lineitem.parquet")


#!/usr/bin/env python3
"""Self-tests of the benchmark's checkers: each check must pass the right
answer and reject a planted wrong one (a dropped tombstone, a stale version,
a wrong joined dim value, one perturbed query row, a PageRank off by more
than its tolerance). Needs no JVM and no build.

    python3 perfbench/selftest.py
"""
import sys
import tempfile
import unittest
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import checks  # noqa: E402
import gen  # noqa: E402


def small_feed() -> dict:
    """A few hand-made rounds: round 1 deletes fact 2 and updates fact 1,
    round 2 moves fact 3 to dim 11 and deletes dim 10."""
    facts = np.array([
        # round, a_id, a_ver, deleted, fk, a_val
        (0, 1, 1, 0, 10, 100), (0, 2, 2, 0, 10, 200), (0, 3, 3, 0, 11, 300),
        (1, 2, 4, 1, 10, 201), (1, 1, 5, 0, 10, 101),
        (2, 3, 6, 0, 12, 301),
    ], dtype=np.int64)
    dims = np.array([
        # round, b_id, b_ver, deleted, b_val
        (0, 10, 1, 0, 7), (0, 11, 2, 0, 8), (0, 12, 3, 0, 9),
        (2, 10, 4, 1, 0),
    ], dtype=np.int64)
    return {"facts": facts, "dims": dims}


def views_after(feed: dict, rnd: int) -> tuple:
    for r, facts, dims in checks.states(feed):
        if r == rnd:
            mv = pd.DataFrame([(a, v, fk, val, False) for a, (v, fk, val) in facts.items()],
                              columns=["a_id", "a_ver", "fk", "a_val", "deleted"])
            join = pd.DataFrame(checks.joined_rows(facts, dims),
                                columns=["a_id", "a_ver", "fk", "a_val", "b_val", "b_name"])
            return mv, join
    raise AssertionError(rnd)


def op_of(rnd: int, mv: pd.DataFrame, join: pd.DataFrame) -> dict:
    """What the JVM reports for a round whose views read back as given."""
    fsum = sum(checks.fact_checksum(*r) for r in mv[["a_id", "a_ver", "fk", "a_val"]]
               .itertuples(index=False))
    rows = [tuple(None if pd.isna(x) else x for x in r) for r in join.itertuples(index=False)]
    return {"unit": f"round:{rnd}", "round": rnd, "mv_rows": len(mv), "mv_checksum": fsum,
            "join_rows": len(join), "join_checksum": sum(checks.join_checksum(r) for r in rows)}


class StreamChecks(unittest.TestCase):
    def setUp(self):
        self.feed = small_feed()

    def assert_rejected(self, rnd: int, mv: pd.DataFrame, join: pd.DataFrame):
        problems = checks.check_stream_ops(self.feed, [op_of(rnd, mv, join)])
        self.assertTrue(problems[f"round:{rnd}"], "per-round check passed a wrong view")
        self.assertTrue(checks.check_stream_final(self.feed, rnd, mv, join),
                        "final check passed a wrong view")

    def test_right_views_pass(self):
        for rnd in range(3):
            mv, join = views_after(self.feed, rnd)
            self.assertEqual(checks.check_stream_ops(self.feed, [op_of(rnd, mv, join)]),
                             {f"round:{rnd}": []})
            self.assertEqual(checks.check_stream_final(self.feed, rnd, mv, join), [])

    def test_dropped_tombstone(self):
        # fact 2 was deleted in round 1; a view that kept it is wrong
        mv, join = views_after(self.feed, 1)
        mv = pd.concat([mv, pd.DataFrame([(2, 2, 10, 200, False)], columns=mv.columns)],
                       ignore_index=True)
        join = pd.concat([join, pd.DataFrame([(2, 2, 10, 200, 7, "d10v1")],
                                             columns=join.columns)], ignore_index=True)
        self.assert_rejected(1, mv, join)

    def test_stale_version(self):
        # fact 1 was updated to version 5 in round 1; version 1 is stale
        mv, join = views_after(self.feed, 1)
        mv.loc[mv.a_id == 1, ["a_ver", "a_val"]] = (1, 100)
        join.loc[join.a_id == 1, ["a_ver", "a_val"]] = (1, 100)
        self.assert_rejected(1, mv, join)

    def test_wrong_joined_dim_value(self):
        # after round 2 fact 3 joins dim 12 (b_val 9), not its old dim 11
        mv, join = views_after(self.feed, 2)
        join.loc[join.a_id == 3, ["b_val", "b_name"]] = (8, "d11v2")
        self.assert_rejected(2, mv, join)

    def test_deleted_dim_leaves_nulls(self):
        # dim 10 was deleted in round 2: fact 1 must join to nulls
        _, join = views_after(self.feed, 2)
        row = join[join.a_id == 1].iloc[0]
        self.assertTrue(pd.isna(row.b_val) and row.b_name is None)

    def test_generated_feed_replays(self):
        with tempfile.TemporaryDirectory() as d:
            feed = gen.stream_feed(np.random.default_rng(7), Path(d))
            self.assertTrue((Path(d) / "facts.csv").exists())
        last = None
        for rnd, facts, dims in checks.states(feed):
            last = (rnd, len(facts), len(dims))
        self.assertEqual(last[0], gen.ROUNDS - 1)
        self.assertGreater(last[1], 0.8 * gen.FACT_KEYS)
        self.assertLess(last[1], gen.FACT_KEYS)


class BoardChecks(unittest.TestCase):
    def test_perturbed_query_row(self):
        want = pd.DataFrame({"item": [1, 2, 3], "rk": [1, 1, 1], "sim": [0.5, 0.25, 0.125]})
        got = want.sample(frac=1.0, random_state=1)  # row order does not matter
        self.assertEqual(checks.compare_query(got, want), [])
        bad = want.copy()
        bad.loc[1, "sim"] = 0.2500001
        self.assertTrue(checks.compare_query(bad, want))
        self.assertTrue(checks.compare_query(want.iloc[:2], want))
        self.assertTrue(checks.compare_query(want.astype({"rk": "int32"}), want))

    def test_pagerank_tolerance(self):
        con = duckdb.connect()
        # a path 1-2-3 plus a pair 4-5 below the 0.6 threshold (dropped)
        pairs = ("SELECT * FROM (VALUES (1, 2, 0.7), (2, 3, 0.9), (4, 5, 0.5)) "
                 "t(doc_a, doc_b, jaccard) WHERE jaccard >= 0.3")
        want = checks.pagerank_oracle(con, pairs)
        # independent power iteration over the same three-node path
        adj = {1: [2], 2: [1, 3], 3: [2]}
        rank = {k: 1 / 3 for k in adj}
        for _ in range(checks.PAGERANK_ITERS):
            rank = {k: (1 - checks.PAGERANK_DAMPING) / 3 + checks.PAGERANK_DAMPING * sum(
                rank[s] / len(adj[s]) for s in adj if k in adj[s]) for k in adj}
        got = pd.DataFrame({"doc_id": list(rank), "rank": list(rank.values())})
        self.assertEqual(checks.compare_query(got, want, checks.PAGERANK_RTOL), [])
        got.loc[0, "rank"] *= 1 + 1e-6
        self.assertTrue(checks.compare_query(got, want, checks.PAGERANK_RTOL))


if __name__ == "__main__":
    unittest.main()

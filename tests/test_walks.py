"""Random walks: full Python md5 replay on a hand graph, dangling
truncation, duplicate-edge collapse, determinism / salt re-roll."""

import hashlib

from corpus_lab.operators.walks import random_walks


def _walk_reference(edges, walk_len, walks_per_node, salt):
    adj = {}
    for s, d in set(edges):
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()
    rows = set()
    for start in adj:
        for w in range(walks_per_node):
            cur = start
            rows.add((start, w, 0, cur))
            for step in range(1, walk_len + 1):
                nbrs = adj.get(cur)
                if not nbrs:
                    break
                draw = int(hashlib.md5(
                    f"{salt}:{start}:{w}:{step}:{cur}".encode())
                    .hexdigest()[:15], 16)
                cur = nbrs[draw % len(nbrs)]
                rows.add((start, w, step, cur))
    return rows


EDGES = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 3), (4, 5),
         (2, 3)]  # dup edge must collapse; 5 is dangling; 3 self-loops


def _df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_matches_python_md5_replay_exactly(spark):
    got = {(r["start"], r["w"], r["step"], r["node"])
           for r in random_walks(_df(spark), walk_len=4,
                                 walks_per_node=3).collect()}
    want = _walk_reference(EDGES, 4, 3, "walk-v1")
    assert got == want


def test_dangling_node_truncates_walk(spark):
    rows = random_walks(_df(spark), walk_len=4, walks_per_node=1).collect()
    from_4 = sorted((r["step"], r["node"]) for r in rows if r["start"] == 4)
    # 4 -> 5 (only edge), then 5 has no out-edges: steps 2..4 missing
    assert from_4 == [(0, 4), (1, 5)]
    # 5 never starts a walk (no out-edges)
    assert not [r for r in rows if r["start"] == 5]


def test_every_step_follows_an_edge(spark):
    edge_set = set(EDGES)
    rows = random_walks(_df(spark), walk_len=3, walks_per_node=2).collect()
    pos = {(r["start"], r["w"], r["step"]): r["node"] for r in rows}
    for (start, w, step), node in pos.items():
        if step > 0:
            assert (pos[(start, w, step - 1)], node) in edge_set


def test_deterministic_and_salt_rerolls(spark):
    key = lambda rows: sorted(map(tuple, rows))
    a = random_walks(_df(spark), walk_len=4, walks_per_node=2).collect()
    b = random_walks(_df(spark), walk_len=4, walks_per_node=2).collect()
    assert key(a) == key(b)
    c = random_walks(_df(spark), walk_len=4, walks_per_node=2,
                     salt="walk-v2").collect()
    assert key(c) != key(a)
    assert key(c) == key([
        (s, w, st, n) for (s, w, st, n)
        in _walk_reference(EDGES, 4, 2, "walk-v2")])

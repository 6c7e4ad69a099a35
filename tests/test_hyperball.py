"""HyperBall neighborhood-function tests (operators/hyperball.py)."""

import hashlib
import math

import pytest

from corpus_lab.operators.hyperball import harmonic_centrality, hyperball

P = 6
M = 1 << P
KMAX = 60 - P + 1


def hll_est_of(values):
    """Pure-Python replay of the engine HLL (p=6) over an exact set."""
    regs = {}
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        b, w = h % M, h >> P
        rho = KMAX if w == 0 else KMAX - w.bit_length()
        regs[b] = max(regs.get(b, 0), rho)
    alpha = 0.7213 / (1.0 + 1.079 / M)
    s = sum(1 << (KMAX - r) for r in regs.values())
    v_empty = M - len(regs)
    s += v_empty * (1 << KMAX)
    raw = alpha * M * M * float(1 << KMAX) / s
    if raw <= 2.5 * M and v_empty > 0:
        return round(M * math.log(M / v_empty), 6)
    return round(raw, 6)


def balls(edges, iters):
    """Exact forward balls per node per radius."""
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    out = {n: set() for n in nodes}
    for s, d in edges:
        out[s].add(d)
    ball = {n: {n} for n in nodes}
    result = {0: {n: set(b) for n, b in ball.items()}}
    for t in range(1, iters + 1):
        ball = {n: ball[n] | set().union(*(result[t - 1][u]
                                           for u in out[n])) if out[n]
                else ball[n] for n in nodes}
        result[t] = {n: set(b) for n, b in ball.items()}
    return result


EDGES = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 6), (6, 7), (7, 3), (8, 1)]


@pytest.fixture(scope="module")
def nf(spark):
    e = spark.createDataFrame(EDGES, "src long, dst long")
    return hyperball(e, iters=3, p=P)


class TestHyperball:
    def test_matches_exact_ball_replay(self, nf):
        got = {(r["node"], r["t"]): r["n_est"] for r in nf.collect()}
        want_balls = balls(EDGES, 3)
        for (node, t), est in got.items():
            assert est == pytest.approx(
                hll_est_of(want_balls[t][node]), abs=1e-6), (node, t)

    def test_monotone_in_t(self, nf):
        rows = {}
        for r in nf.collect():
            rows.setdefault(r["node"], {})[r["t"]] = r["n_est"]
        for node, series in rows.items():
            vals = [series[t] for t in sorted(series)]
            assert vals == sorted(vals), node

    def test_harmonic_replay(self, nf):
        got = {r["node"]: r["harmonic"]
               for r in harmonic_centrality(nf).collect()}
        want_balls = balls(EDGES, 3)
        for node, h in got.items():
            ests = [hll_est_of(want_balls[t][node]) for t in range(4)]
            want = sum((ests[t] - ests[t - 1]) / t for t in (1, 2, 3))
            assert h == pytest.approx(want, abs=1e-5), node

    def test_repartition_deterministic(self, spark, nf):
        e = spark.createDataFrame(EDGES, "src long, dst long").repartition(5)
        again = hyperball(e, iters=3, p=P)
        assert sorted(map(tuple, nf.collect())) \
            == sorted(map(tuple, again.collect()))

    def test_converged_frontier_rounds(self, spark):
        # iters beyond the graph diameter: the changed-frontier collapses
        # to empty and late rounds must be no-ops with stable estimates
        e = spark.createDataFrame(EDGES, "src long, dst long")
        nf6 = hyperball(e, iters=6, p=P)
        rows = {}
        for r in nf6.collect():
            rows.setdefault(r["node"], {})[r["t"]] = r["n_est"]
        want = balls(EDGES, 6)
        for node, series in rows.items():
            assert series[6] == pytest.approx(
                hll_est_of(want[6][node]), abs=1e-6)
            # past convergence the series is flat
            assert series[5] == series[6]

    def test_effective_diameter_replay(self, nf):
        from corpus_lab.operators.hyperball import effective_diameter
        row = effective_diameter(nf, fraction=0.9).collect()[0]
        want_balls = balls(EDGES, 3)
        nt = {t: round(sum(round(hll_est_of(want_balls[t][n]) * 1e6)
                           for n in want_balls[t]) / 1e6, 6)
              for t in range(4)}
        target = 0.9 * max(nt.values())
        t_hit = min(t for t in range(4) if nt[t] >= target)
        want = (float(t_hit) if t_hit == 0 else
                t_hit - 1 + (target - nt[t_hit - 1])
                / (nt[t_hit] - nt[t_hit - 1]))
        assert row["t_max"] == 3
        assert row["reachable_pairs_max"] == pytest.approx(
            max(nt.values()), abs=1e-5)
        assert row["effective_diameter"] == pytest.approx(want, abs=1e-5)

    def test_small_ball_near_exact(self, nf):
        # linear-counting regime: tiny balls should estimate within ~5%
        got = {(r["node"], r["t"]): r["n_est"] for r in nf.collect()}
        want = balls(EDGES, 3)
        for (node, t), est in got.items():
            true = len(want[t][node])
            assert abs(est - true) / true < 0.12, (node, t, est, true)

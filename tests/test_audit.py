"""LSH dedup audit + ANALYZE column stats: full pure-Python replay of
the banding/Jaccard arithmetic and invariant checks."""

import hashlib
import re

from corpus_lab.operators.audit import lsh_dedup_audit, table_column_stats


# ---------------------------------------------------- python reference

def _shingles(text: str, n: int = 2) -> set:
    toks = re.split(r"\s+", text.strip()) if text.strip() else [""]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _band_keys(sh: set, n_hashes: int, r: int) -> dict:
    mh = {s: min(hashlib.md5(f"{s}:{g}".encode()).hexdigest() for g in sh)
          for s in range(n_hashes)}
    return {b: "|".join(mh[s] for s in range(b * r, (b + 1) * r))
            for b in range(n_hashes // r)}


def _audit_ref(docs: dict, threshold: float, sample_mod: int,
               n_hashes: int = 4, r: int = 2) -> dict:
    sh = {i: _shingles(t) for i, t in docs.items()}
    bands = {i: _band_keys(s, n_hashes, r) for i, s in sh.items()}
    ids = sorted(docs)
    cand = set()
    for x in ids:
        for y in ids:
            if x < y and any(bands[x][b] == bands[y][b]
                             for b in bands[x]):
                cand.add((x, y))

    def jac(x, y):
        inter = len(sh[x] & sh[y])
        return inter / (len(sh[x]) + len(sh[y]) - inter)

    true_cand = {p for p in cand if jac(*p) >= threshold}
    samp = [i for i in ids if i % sample_mod == 0]
    # ground truth restricted to co-shingled sample pairs (the exact
    # inverted-index path only emits pairs sharing >= 1 shingle)
    sample_true = {(x, y) for x in samp for y in samp
                   if x < y and sh[x] & sh[y] and jac(x, y) >= threshold}
    caught = sample_true & cand
    return {
        "n_candidates": len(cand),
        "n_true_candidates": len(true_cand),
        "n_sample_true": len(sample_true),
        "n_sample_caught": len(caught),
    }


def _corpus() -> dict:
    docs = {}
    for i in range(30):
        h = hashlib.md5(f"corpus:{i}".encode()).hexdigest()
        docs[i] = " ".join(h[j:j + 3] for j in range(0, 30, 3))
    # planted near-dups: 10/11 (outside the %5 sample), 15/20 (inside)
    docs[11] = docs[10] + " tailword"
    docs[20] = docs[15] + " extra"
    docs[25] = docs[5]  # exact dup crossing the sample boundary
    return docs


def test_lsh_dedup_audit_matches_python_replay(spark):
    docs = _corpus()
    df = spark.createDataFrame(sorted(docs.items()), ["doc_id", "text"])
    got = lsh_dedup_audit(df, threshold=0.4, sample_mod=5).collect()
    assert len(got) == 1
    g = got[0]
    ref = _audit_ref(docs, threshold=0.4, sample_mod=5)
    assert g["n_candidates"] == ref["n_candidates"]
    assert g["n_true_candidates"] == ref["n_true_candidates"]
    assert g["n_sample_true"] == ref["n_sample_true"]
    assert g["n_sample_caught"] == ref["n_sample_caught"]
    # the planted dups guarantee non-degenerate counts
    assert g["n_candidates"] >= 2
    assert g["n_sample_true"] >= 1
    if g["n_candidates"]:
        assert abs(g["precision_est"]
                   - ref["n_true_candidates"] / ref["n_candidates"]) < 1e-6
    if g["n_sample_true"]:
        assert abs(g["recall_est"]
                   - ref["n_sample_caught"] / ref["n_sample_true"]) < 1e-6


def test_lsh_dedup_audit_empty_denominators_null(spark):
    # all-distinct corpus with no shared shingles: no candidates, no
    # true sample pairs -> both rates NULL, counts zero
    docs = [(i, f"unique{i}a unique{i}b unique{i}c") for i in range(8)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    g = lsh_dedup_audit(df, threshold=0.4, sample_mod=5).collect()[0]
    assert g["n_candidates"] == 0
    assert g["precision_est"] is None
    assert g["n_sample_true"] == 0
    assert g["recall_est"] is None


# ----------------------------------------------------------- stats

def test_table_column_stats_exact(spark):
    df = spark.createDataFrame(
        [(1, "alpha", None), (2, "beta", 5.0), (3, "alpha", 7.5),
         (4, None, 5.0)],
        ["id", "name", "score"])
    got = {r["column"]: r for r in table_column_stats(df).collect()}
    assert set(got) == {"id", "name", "score"}
    for c in got:
        assert got[c]["n_rows"] == 4
    assert got["id"]["n_null"] == 0 and got["id"]["n_distinct"] == 4
    assert got["id"]["min_s"] == "1" and got["id"]["max_s"] == "4"
    assert got["name"]["n_null"] == 1 and got["name"]["n_distinct"] == 2
    assert got["name"]["min_s"] == "alpha" and got["name"]["max_s"] == "beta"
    assert got["score"]["n_null"] == 1 and got["score"]["n_distinct"] == 2
    assert got["score"]["min_s"] == "5.0" and got["score"]["max_s"] == "7.5"


def test_table_column_stats_single_scan_plan(spark):
    """The stats job reads the table once: exactly one scan node."""
    df = spark.range(100).selectExpr("id", "id % 7 AS k")
    plan = table_column_stats(df)._jdf.queryExecution() \
                                 .executedPlan().toString()
    assert plan.count("Range") <= 2  # one scan (+ possibly reused ref)


def test_table_column_stats_approx_path(spark):
    df = spark.range(1000).selectExpr("id", "cast(id % 13 as string) AS k")
    got = {r["column"]: r
           for r in table_column_stats(df, approx_ndv=True).collect()}
    # HLL estimate within its documented 5% default rsd
    assert abs(got["k"]["n_distinct"] - 13) <= 2
    assert abs(got["id"]["n_distinct"] - 1000) <= 100

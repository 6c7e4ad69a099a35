"""Skew salting: the two-stage aggregation ``salted_agg`` and its
join-side companion, the salted equi-join (the brief's "salting for skew"
applied to big-big joins).

When one join key is hot (a boilerplate domain, a null-ish default, one
giant publisher), a plain shuffle join sends the whole hot key to ONE
reducer and the stage runs at the speed of that task.  ``salted_join``
splits every left row onto one of ``n_salt`` sub-keys via a deterministic
row hash and replicates each right row onto all ``n_salt`` sub-keys, so
the join key becomes (key, salt) and the hot key fans out over ``n_salt``
tasks.  Cost: the right side shuffles ``n_salt``x — use it when BOTH
sides are too big to broadcast and the left carries the skew; broadcast
stays the right plan for dimension-sized right sides, and AQE's
skew-join split (when its thresholds trigger) needs no code change.

Output equality with the plain join holds for ``inner`` and ``left``
joins: every left row carries exactly one salt, and its key's right
matches exist on every salt replica, so matches and non-matches are
preserved 1:1 (NULL keys never match, exactly as in the unsalted join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(left: DataFrame, right: DataFrame, on: str,
                n_salt: int = 8, how: str = "inner") -> DataFrame:
    """Equi-join ``left`` and ``right`` on column ``on`` with the hot-key
    shuffle spread over ``n_salt`` sub-keys.  Supports ``inner`` and
    ``left`` joins (the shapes where per-left-row salting is lossless)."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]),
                  F.lit(n_salt)).cast("int")
    l = left.withColumn("_salt", salt)
    r = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    return l.join(r, [on, "_salt"], how).drop("_salt")


def skew_profile(df: DataFrame, key_col: str,
                 top_k: int | None = None) -> DataFrame:
    """``(key, n_rows, share, cum_share, key_rank)`` — the skew
    diagnosis that decides WHETHER to salt before any of the above is
    reached for: per-key row counts with each key's share of the table
    and the cumulative share in descending-count order (count DESC,
    key ASC ties — fully deterministic ranking).

    A healthy key distribution shows cum_share growing ~linearly in
    key_rank; a hot key shows rank 1 already holding a large share —
    the single-reducer stall predictor.  Scale shape: the profile is
    ONE map-side-combined hash aggregation over the corpus; the window
    runs on the KEYS-sized relation (never the rows), and the total is
    an in-plan 1-row broadcast (the documented scalar crossJoin
    pattern).  NULL keys profile as a key like any other — a null-ish
    default is a classic hot key."""
    counts = (df.groupBy(F.col(key_col).alias("key"))
                .agg(F.count(F.lit(1)).cast("long").alias("n_rows")))
    total = counts.agg(F.sum("n_rows").cast("double").alias("_total"))
    w = (Window.orderBy(F.col("n_rows").desc(), F.col("key").asc_nulls_last()))
    out = (counts.crossJoin(F.broadcast(total))
           .withColumn("key_rank",
                       F.row_number().over(w).cast("int"))
           .withColumn("share", F.round(F.col("n_rows") / F.col("_total"), 6))
           .withColumn("cum_share",
                       F.round(F.sum("n_rows").over(
                           w.rowsBetween(Window.unboundedPreceding, 0))
                           / F.col("_total"), 6))
           .select("key", "n_rows", "share", "cum_share", "key_rank"))
    if top_k is not None:
        out = out.filter(F.col("key_rank") <= top_k)
    return out


def salted_agg(df: DataFrame, group_col: str, agg_exprs: dict,
               n_salts: int = 16) -> DataFrame:
    """Two-stage aggregation for skewed group keys.

    Stage 1 groups by (key, salt) — the hot key's rows spread over
    ``n_salts`` reducers; stage 2 combines the ``n_salts`` partials per key.
    ``agg_exprs`` maps output column name -> ("sum"|"count"|"max"|"min",
    input column). Only decomposable aggregates are supported (that is the
    point of salting).
    """
    first = []
    second = []
    for out, (fn, col) in agg_exprs.items():
        if fn == "count":
            first.append(F.count(col if col != "*" else "*").alias(out))
            second.append(F.sum(out).alias(out))
        elif fn == "sum":
            first.append(F.sum(col).alias(out))
            second.append(F.sum(out).alias(out))
        elif fn == "max":
            first.append(F.max(col).alias(out))
            second.append(F.max(out).alias(out))
        elif fn == "min":
            first.append(F.min(col).alias(out))
            second.append(F.min(out).alias(out))
        else:
            raise ValueError(f"non-decomposable aggregate: {fn}")
    salted = df.withColumn("_salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()),
                                           F.lit(n_salts)))
    partial = salted.groupBy(group_col, "_salt").agg(*first)
    return partial.groupBy(group_col).agg(*second)

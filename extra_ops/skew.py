"""Skew handling: salted joins for hot keys (north_rule: "skewed
mega-cells salted and AQE-split explicitly").

Two mechanisms, used at different layers:

1. AQE skew-join splitting is always on (session.py) — it covers the
   shuffle joins (aggs, jaccard self-join, window stages) by splitting
   oversized partitions at runtime.
2. ``salted_join`` is the explicit tool for joins AQE can't fix: a
   shuffle equi-join where one key dominates (a mega-cell holding a city
   worth of points). The hot side gets a random salt in [0, S); the dim
   side is exploded S ways on the same salts; the join key becomes
   (key, salt), spreading each hot key over S reducers.

The flagship spatial join itself needs neither (its big side is never
shuffled — broadcast join + map refine); salting matters when two FACT
tables meet on cell ids, e.g. points x points co-location joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Equi-join big⋈small on ``key`` with the big side salted S ways.

    ``small`` (the replicated side) is exploded into S copies — its size
    grows by S, so keep S modest (8-32). Deterministic output, random
    salt placement (hash of a per-row random is not needed: pmod of a
    uniform random suffices — correctness does not depend on placement).

    Only inner/left joins are supported: an outer join would return each
    unmatched replicated small-side row S times (one per salt copy).
    """
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports inner/left only (got {how!r}): outer "
            "joins duplicate unmatched small-side rows salt_buckets times"
        )
    salted_big = big.withColumn(
        "_salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salts = F.array(*[F.lit(i) for i in range(salt_buckets)])
    salted_small = small.withColumn("_salt", F.explode(salts))
    out = salted_big.join(salted_small, [key, "_salt"], how)
    return out.drop("_salt")


def hot_keys(df: DataFrame, key: str, threshold_ratio: float = 0.01) -> DataFrame:
    """Keys holding more than ``threshold_ratio`` of all rows — the
    skew diagnosis step (run on a sample at scale)."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > total * threshold_ratio)
        .orderBy(F.desc("n"))
    )


def split_hot_cells(
    points: DataFrame,
    id_col: str,
    cell_col: str = "cell",
    max_per_cell: int = 100_000,
    sub_buckets: int = 16,
) -> DataFrame:
    """Cap cell fan-out by sub-bucketing dense cells (the "subdivide
    dense H3 cells" strategy): cells above the cap get a stable
    sub-bucket id appended; downstream groupBys key on (cell, sub).

    ``id_col`` must be a row-unique column: the sub-bucket is its hash.
    (Hashing the cell column itself — or anything correlated with it —
    would land every row of a hot cell in ONE sub-bucket, a no-op.)"""
    counts = points.groupBy(cell_col).agg(F.count(F.lit(1)).alias("_n"))
    return (
        points.join(F.broadcast(counts.filter(F.col("_n") > max_per_cell)), cell_col, "left")
        .withColumn(
            "cell_sub",
            F.when(
                F.col("_n").isNotNull(),
                F.pmod(F.xxhash64(F.col(id_col)), F.lit(sub_buckets)),
            ).otherwise(F.lit(0)),
        )
        .drop("_n")
    )


def hrw_assign(key, nodes: list[str]):
    """Highest-random-weight (rendezvous) hashing — the shard-placement
    primitive a partitioned sink uses so a topology change moves ONLY
    the keys of the affected node (Thaler & Ravishankar '98; the
    property consistent hashing approximates, HRW gives exactly):
    ``owner(key) = argmax_node md5(key || '|' || node)``, ties (md5
    collisions, practically impossible but the rule is total) to the
    lexicographically LARGEST node: greatest() over structs compares
    (w, node) field by field, so on equal weights the larger node
    string wins regardless of argument order — both engines implement
    exactly this total order (r6: docstring corrected; the previous
    text claimed smallest-node ties, which the code never did).

    Returns a Column: the owning node for ``key`` over the LITERAL
    node list — a pure map-side expression (md5 per node, a
    greatest-struct fold), no shuffle, engine-exact (md5 is the
    repo-wide shared hash).  The minimal-disruption contract —
    dropping node X moves exactly X's keys and NOTHING else — follows
    from per-(key, node) weights being independent of the list, and
    is pinned by the gate fold."""
    from pyspark.sql import functions as F

    if not nodes:
        raise ValueError("hrw_assign needs at least one node")
    cands = [
        F.struct(
            F.md5(F.concat(key.cast("string"), F.lit("|" + n))).alias("w"),
            F.lit(n).alias("node"),
        )
        # argument order is irrelevant to greatest() over structs —
        # ties break to the LARGEST node via struct field comparison;
        # the sort only fixes the expression text for the SQL twin
        for n in sorted(nodes, reverse=True)
    ]
    best = F.greatest(*cands) if len(cands) > 1 else cands[0]
    return best["node"]


def sql_hrw_assign(key: str, nodes: list[str]) -> str:
    """DuckDB twin of ``hrw_assign``: the same md5 weights folded with
    greatest() over the same struct order."""
    items = [
        f"{{'w': md5(CAST({key} AS VARCHAR) || '|{n}'), 'node': '{n}'}}"
        for n in sorted(nodes, reverse=True)
    ]
    if len(items) == 1:
        return f"({items[0]}).node"
    return f"(list_max([{', '.join(items)}])).node"

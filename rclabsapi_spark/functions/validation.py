"""Validation predicates (SURVEY P14-P15, F9-F10) as Column expressions.

The reference validates API inputs with regexes and bound checks
(input_validator.cpp:152-189, 320-391, 577-587). Re-expressed as engine
scalar predicates so they can run distributed over whole columns (e.g.
validating a billion-row ingest instead of one HTTP param).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def is_valid_password(c: Column) -> Column:
    """len 8-128 + upper + lower + digit (input_validator.cpp:160-165)."""
    return (
        F.length(c).between(8, 128)
        & c.rlike("[A-Z]")
        & c.rlike("[a-z]")
        & c.rlike("[0-9]")
    )


def contains_sql_injection(c: Column) -> Column:
    """F10 heuristic blocklist (input_validator.cpp:125, decl)."""
    return F.lower(c).rlike(
        r"('|--|;|\b(union|select|insert|update|delete|drop|exec)\b)"
    )


def clamp_limit(n: int) -> int:
    """limit bound 1-1000 (input_validator.cpp:335-345)."""
    return max(1, min(1000, n))


def check_constraints(df, constraints: dict):
    """CHECK-constraint audit (init.sql:25-26 enum CHECKs, §1.2): one
    pass over the table producing per-constraint violation counts.

    ``constraints`` maps name → boolean Column (TRUE = row passes). All
    counts come from a single aggregate (sum of failure indicators) — at
    100 TB this is one scan regardless of constraint count, vs one scan
    per constraint for the naive loop."""
    from pyspark.sql import functions as F

    if not constraints:
        raise ValueError("constraints must be a non-empty mapping")
    aggs = [
        F.sum(F.when(~pred, 1).otherwise(0)).cast("long").alias(name)
        for name, pred in constraints.items()
    ]
    wide = df.agg(*aggs)
    # unpivot to (constraint, violations) rows
    names = list(constraints)
    stack = ", ".join(f"'{n}', `{n}`" for n in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) as (constraint_name, violations)"
    )


def fk_orphan_counts(relationships: list[tuple]) -> "DataFrame":
    """Referential-integrity audit (init.sql:17,60,72 — the reference's
    NOT NULL REFERENCES columns): per relationship, count child rows
    whose key has no parent — the FK check a lakehouse must run as a
    batch audit since parquet enforces nothing.

    ``relationships`` is a list of
    (name, child_df, child_key, parent_df, parent_key).

    Scale: each relationship is one LEFT ANTI join on its key (broadcast
    when the parent is a dim, shuffle for fact⋈fact) reduced to a single
    count — the unioned result is #relationships rows. NULL child keys
    count as orphans in both engines (null never equi-matches)."""
    from functools import reduce

    from pyspark.sql import functions as F

    if not relationships:
        raise ValueError("relationships must be non-empty")
    outs = []
    for name, child, ck, parent, pk in relationships:
        orphans = (
            child.select(F.col(ck).alias("_k"))
            .join(
                parent.select(F.col(pk).alias("_k")).distinct(),
                "_k",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("orphans"))
            .select(F.lit(name).alias("relationship"), "orphans")
        )
        outs.append(orphans)
    return reduce(lambda a, b: a.unionByName(b), outs)

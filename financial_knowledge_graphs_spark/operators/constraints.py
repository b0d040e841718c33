"""Schema-constraint enforcement (SURVEY §2.6 row 43).

The reference declares uniqueness constraints + a name index in Neo4j
(reference src/db/neo4j_handler.py:26-34) and otherwise trusts the driver to
reject violating writes. Tables have no constraint engine, so this module is
the explicit enforcement layer a writer calls before a merge: conform the
frame to the declared StructType, split off NOT NULL / UNIQUE violations,
and either raise, drop, or report them.

Everything is declarative DataFrame work — conformance is a projection with
casts (column pruning preserved), NOT NULL is a filter, UNIQUE is a window
count over the key (one shuffle on the key, which the downstream merge
shuffles on anyway).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


@dataclass
class Constraints:
    schema: StructType
    not_null: list[str] = field(default_factory=list)
    unique: list[list[str]] = field(default_factory=list)  # each a key tuple
    # CHECK-style closed domains: column -> allowed values. SQL CHECK
    # semantics: NULL passes (add the column to not_null to forbid it).
    # The KG use is the ontology's closed predicate vocabulary
    # (schemas.PREDICATES; reference configs/config_neo4j.yaml:16-20) — a
    # triple with a novel pred must not flow into the graph unchallenged.
    domains: dict[str, list[str]] = field(default_factory=dict)


class ConstraintViolation(ValueError):
    pass


def _any_null(key: list[str]):
    from functools import reduce

    return reduce(lambda a, c: a | c, [F.col(k).isNull() for k in key])


def domain_passes(domains: dict[str, list[str]]):
    """Column that is true for rows passing every domain CHECK (NULL passes,
    SQL semantics). Never NULL itself, so ``~domain_passes(d)`` is exactly
    the violations."""
    from functools import reduce

    return reduce(
        lambda a, b: a & b,
        [F.col(c).isNull() | F.col(c).isin(*allowed) for c, allowed in domains.items()],
        F.lit(True),
    )


def domain_filter(df: DataFrame, domains: dict[str, list[str]]) -> DataFrame:
    """Rows passing every domain CHECK. A pure Catalyst filter — pushes to
    the scan, no shuffle."""
    return df.filter(domain_passes(domains))


def domain_violations(df: DataFrame, domains: dict[str, list[str]]) -> DataFrame:
    """Rows failing at least one domain CHECK (complement of domain_filter)."""
    return df.filter(~domain_passes(domains))


def conform(df: DataFrame, schema: StructType, keep: list[str] | None = None) -> DataFrame:
    """Project + cast to exactly the declared schema. Missing columns raise
    (writer bug); extra columns are dropped (pruned before the shuffle).

    try_cast, not cast: Spark 4 runs ANSI mode by default, where a plain
    cast of one un-castable value ('N/A' → double) fails the WHOLE job —
    defeating drop/report modes, whose purpose is to quarantine bad rows.
    An un-castable value becomes NULL here and is SURFACED by enforce()'s
    cast-violation tags (computed on the pre-cast values), never silently
    passed through."""
    missing = [f.name for f in schema.fields if f.name not in df.columns]
    if missing:
        raise ConstraintViolation(f"missing columns for schema: {missing}")
    return df.select(
        *[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in schema.fields],
        *[F.col(k) for k in (keep or [])],
    )


def _cast_violation_tags(df: DataFrame, schema: StructType) -> list:
    """One WHEN tag per field whose source type differs: value present but
    try_cast comes back NULL — the row would otherwise null through every
    downstream CHECK (NULL passes domain constraints)."""
    src = {f.name: f.dataType for f in df.schema.fields}
    return [
        F.when(
            F.col(f.name).isNotNull()
            & F.col(f.name).try_cast(f.dataType).isNull(),
            F.lit(f"cast:{f.name}"),
        )
        for f in schema.fields
        if f.name in src and src[f.name] != f.dataType
    ]


def violations(df: DataFrame, cons: Constraints) -> DataFrame:
    """One row per violating input row, tagged with the failed constraint.
    UNIQUE marks every row of a duplicated key (count over a window — the
    extra shuffle is on the merge key the writer shuffles on anyway)."""
    out = None
    for c in cons.not_null:
        v = df.filter(F.col(c).isNull()).withColumn(
            "violation", F.lit(f"not_null:{c}")
        )
        out = v if out is None else out.unionByName(v)
    for col, allowed in cons.domains.items():
        v = df.filter(
            F.col(col).isNotNull() & ~F.col(col).isin(*allowed)
        ).withColumn("violation", F.lit(f"domain:{col}"))
        out = v if out is None else out.unionByName(v)
    for key in cons.unique:
        # SQL UNIQUE permits any number of NULL keys: rows with a NULL in
        # the key are excluded from the duplicate window (they can only
        # violate not_null) — they'd otherwise group together and be
        # flagged/dropped as duplicates of each other.
        has_null = _any_null(key)
        w = Window.partitionBy(*[F.col(k) for k in key])
        v = (
            df.filter(~has_null)
            .withColumn("_n", F.count(F.lit(1)).over(w))
            .filter(F.col("_n") > 1)
            .drop("_n")
            .withColumn("violation", F.lit(f"unique:{','.join(key)}"))
        )
        out = v if out is None else out.unionByName(v)
    if out is None:
        return df.limit(0).withColumn("violation", F.lit(""))
    return out


def enforce(df: DataFrame, cons: Constraints, mode: str = "error") -> DataFrame:
    """Conform + enforce.

    mode='error'  raise ConstraintViolation if any row violates (count job);
    mode='drop'   return only clean rows (null keys dropped, first row per
                  unique key kept deterministically by the key ordering);
    mode='report' return the conformed frame with a `violation` column
                  (null = clean) for the caller to route to a quarantine
                  table.
    """
    from functools import reduce

    cast_tags = _cast_violation_tags(df, cons.schema)
    cast_bad = (
        reduce(lambda a, b: a | b, [t.isNotNull() for t in cast_tags])
        if cast_tags else F.lit(False)
    )
    if mode == "error":
        if cast_tags and df.filter(cast_bad).limit(1).count():
            sample = [
                next(v for v in r if v is not None)
                for r in df.filter(cast_bad)
                .select(*cast_tags).limit(5).collect()
            ]
            raise ConstraintViolation(f"constraint violations (e.g. {sample})")
        d = conform(df, cons.schema)
        bad = violations(d, cons)
        n = bad.limit(1).count()
        if n:
            sample = [r["violation"] for r in bad.select("violation").limit(5).collect()]
            raise ConstraintViolation(f"constraint violations (e.g. {sample})")
        return d
    if mode == "drop":
        d = conform(df.filter(~cast_bad), cons.schema)
        for c in cons.not_null:
            d = d.filter(F.col(c).isNotNull())
        d = domain_filter(d, cons.domains)
        for key in cons.unique:
            # NULL-keyed rows bypass the dedup window (SQL UNIQUE allows
            # any number of NULL keys) and are unioned back unchanged
            null_rows = d.filter(_any_null(key))
            w = Window.partitionBy(*[F.col(k) for k in key]).orderBy(
                *[F.col(f.name) for f in cons.schema.fields]
            )
            d = (
                d.filter(~_any_null(key))
                .withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
                .unionByName(null_rows)
            )
        return d
    if mode == "report":
        # cast tags are computed on the PRE-cast values and carried through
        # the conforming projection; all other tags on the conformed frame
        d = conform(
            df.withColumn(
                "__cast_viol",
                F.filter(F.array(*cast_tags), lambda x: x.isNotNull())
                if cast_tags else F.array().cast("array<string>"),
            ),
            cons.schema, keep=["__cast_viol"],
        )
        # inline tags (no join — a join on the full row would drop null-key
        # matches and re-shuffle the whole frame)
        tags = [
            F.when(F.col(c).isNull(), F.lit(f"not_null:{c}")) for c in cons.not_null
        ]
        for col, allowed in cons.domains.items():
            tags.append(
                F.when(F.col(col).isNotNull() & ~F.col(col).isin(*allowed),
                       F.lit(f"domain:{col}"))
            )
        for key in cons.unique:
            w = Window.partitionBy(*[F.col(k) for k in key])
            tags.append(
                F.when((~_any_null(key)) & (F.count(F.lit(1)).over(w) > 1),
                       F.lit(f"unique:{','.join(key)}"))
            )
        inline = (F.filter(F.array(*tags), lambda x: x.isNotNull())
                  if tags else F.array().cast("array<string>"))
        tag_col = F.concat_ws(";", F.concat(F.col("__cast_viol"), inline))
        return d.withColumn(
            "violation", F.when(tag_col == "", F.lit(None)).otherwise(tag_col)
        ).drop("__cast_viol")
    raise ValueError(f"unknown mode {mode!r}")

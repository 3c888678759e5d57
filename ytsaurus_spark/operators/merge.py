"""MERGE INTO: full SQL:2003 / Delta-style multi-clause merge as ONE
declarative DataFrame plan.

Reference context: the reference's keyed dynamic tables expose upsert /
delete primitives (yt/yt/server/node/tablet_node/sorted_dynamic_store.h:203)
and its batch engine composes them; vendor lakehouse formats express the
same composite as MERGE INTO. COVERAGE.md documents LogTxTable as
the parquet-native stand-in "API shaped so MERGE INTO drops in" — this
module is that drop-in, implemented engine-side instead of waiting for
vendor jars.

Semantics (SQL:2003 14.9 + the BY SOURCE extension):

- ``WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE``
- ``WHEN NOT MATCHED [AND cond] THEN INSERT ...``
- ``WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE ... | DELETE``

Clauses are evaluated IN ORDER within their category; the first clause
whose condition holds fires, later clauses are not considered for that
row (standard 14.9 General Rule 6). A matched/by-source row firing no
clause is kept unchanged; an unmatched source row firing no clause is
ignored. A target row matched by MORE THAN ONE source row is a
cardinality violation (General Rule 5b — "attempt to update the same
row twice") and raises ``MergeCardinalityError``.

Spark shape — one full-outer join, zero driver loops:

    target ──┐
             ├── full_outer join on the merge condition
    source ──┘
        → one __action column (ordered F.when chain over clause conds)
        → per-column CASE projecting updated / inserted / kept values
        → filter out DELETE actions

Catalyst extracts equi-keys from the ON condition, so a key-equality
merge runs as a single sort-merge (or broadcast) join shuffle — the
same cost as the upsert pattern in operators/keyed_tables.py. At 100 TB
the plan is the standard copy-on-write merge: one shuffle on the key,
amortized by partition pruning when snapshots are key-partitioned.
The cardinality check reuses the SAME joined frame (count distinct
source hits per target key) and is skippable for pre-deduped sources.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MergeCardinalityError",
    "update",
    "delete",
    "insert",
    "merge_into",
    "merge_classify",
]

ColumnLike = Union[Column, str]


class MergeCardinalityError(ValueError):
    """A target row was matched by more than one source row."""


@dataclass(frozen=True)
class _Clause:
    action: str  # "update" | "delete" | "insert"
    assignments: dict | None = None  # update SET / insert VALUES
    condition: ColumnLike | None = None


def update(
    set: dict[str, ColumnLike] | None = None,  # noqa: A002 - SQL keyword
    condition: ColumnLike | None = None,
) -> _Clause:
    """``WHEN [NOT] MATCHED [BY SOURCE] [AND condition] THEN UPDATE SET ...``

    ``set`` maps target column → expression (Column, or SQL string over
    the ``t``/``s`` aliases). ``set=None`` means "update all": every
    target column with a same-named source column takes the source value
    (only valid in matched clauses)."""
    return _Clause("update", set, condition)


def delete(condition: ColumnLike | None = None) -> _Clause:
    """``WHEN [NOT] MATCHED [BY SOURCE] [AND condition] THEN DELETE``."""
    return _Clause("delete", None, condition)


def insert(
    values: dict[str, ColumnLike] | None = None,
    condition: ColumnLike | None = None,
) -> _Clause:
    """``WHEN NOT MATCHED [AND condition] THEN INSERT ...``

    ``values`` maps target column → expression; omitted target columns
    take the same-named source column when present, else NULL.
    ``values=None`` is ``INSERT *``."""
    return _Clause("insert", values, condition)


def _as_col(e: ColumnLike) -> Column:
    return F.expr(e) if isinstance(e, str) else e


_T_MARK = "__merge_t_mark"
_S_MARK = "__merge_s_mark"
_ACTION = "__merge_action"


def _validate(matched, not_matched, not_matched_by_source) -> None:
    for cl in matched:
        if cl.action not in ("update", "delete"):
            raise ValueError(f"WHEN MATCHED supports UPDATE/DELETE, got {cl.action}")
    for cl in not_matched:
        if cl.action != "insert":
            raise ValueError(f"WHEN NOT MATCHED supports INSERT, got {cl.action}")
    for cl in not_matched_by_source:
        if cl.action not in ("update", "delete"):
            raise ValueError(
                f"WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE, got {cl.action}"
            )
    for seq in (matched, not_matched, not_matched_by_source):
        for i, cl in enumerate(seq[:-1]):
            if cl.condition is None and i < len(seq) - 1:
                raise ValueError(
                    "only the LAST clause of a category may omit its "
                    "condition (an unconditional clause shadows later ones)"
                )


def _joined(
    target: DataFrame,
    source: DataFrame,
    on: Union[list[str], ColumnLike],
    target_alias: str,
    source_alias: str,
) -> tuple[DataFrame, list[str]]:
    """Full-outer join with side-presence markers; returns (joined, keys)
    where keys is the equi-key list when ``on`` named one (else [])."""
    t = target.withColumn(_T_MARK, F.lit(True)).alias(target_alias)
    s = source.withColumn(_S_MARK, F.lit(True)).alias(source_alias)
    if isinstance(on, list):
        cond = None
        for k in on:
            eq = F.col(f"{target_alias}.{k}") == F.col(f"{source_alias}.{k}")
            cond = eq if cond is None else (cond & eq)
        return t.join(s, cond, "full_outer"), list(on)
    return t.join(s, _as_col(on), "full_outer"), []


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: Union[list[str], ColumnLike],
    matched: list[_Clause] = (),
    not_matched: list[_Clause] = (),
    not_matched_by_source: list[_Clause] = (),
    target_alias: str = "t",
    source_alias: str = "s",
    check_cardinality: bool = True,
) -> DataFrame:
    """Merge ``source`` into ``target``; returns the post-merge snapshot
    with the target's schema (same columns, same order, same types).

    ``on``: list of key column names (equi-merge, the scalable path) or
    an arbitrary join condition (Column / SQL string over the aliases).
    Clause conditions and assignment expressions reference the two sides
    as ``t.col`` / ``s.col`` (override via ``target_alias`` /
    ``source_alias``).

    ``check_cardinality=True`` raises :class:`MergeCardinalityError`
    when a target row matches >1 source rows (the SQL standard's
    update-twice error; Delta raises the same). The check is one extra
    aggregate over the SAME join; disable it for pre-deduped sources.
    """
    matched = list(matched)
    not_matched = list(not_matched)
    not_matched_by_source = list(not_matched_by_source)
    _validate(matched, not_matched, not_matched_by_source)
    if not (matched or not_matched or not_matched_by_source):
        raise ValueError("MERGE needs at least one WHEN clause")

    j, keys = _joined(target, source, on, target_alias, source_alias)
    is_matched = F.col(_T_MARK).isNotNull() & F.col(_S_MARK).isNotNull()
    t_only = F.col(_T_MARK).isNotNull() & F.col(_S_MARK).isNull()
    s_only = F.col(_T_MARK).isNull() & F.col(_S_MARK).isNotNull()

    if check_cardinality and matched:
        # General Rule 5b: a target row hit by >1 source rows is an error.
        # Key-grain count over the matched slice of the same join — one
        # partial-agged shuffle on keys (or on the target row id).
        grain = (
            [F.col(f"{target_alias}.{k}") for k in keys]
            if keys
            else [F.col(f"{target_alias}.{c}") for c in target.columns]
        )
        dups = (
            j.filter(is_matched)
            .groupBy(*grain)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
        )
        hit = dups.take(1)
        if hit:
            raise MergeCardinalityError(
                "MERGE cardinality violation: a target row matches more "
                f"than one source row (e.g. {hit[0].asDict()})"
            )

    def pick_action(
        base: Column, clauses: list[_Clause], tag: str
    ) -> list[tuple[Column, str]]:
        """(guard, action-label) pairs for a category, first-match-wins."""
        out, prior = [], F.lit(True)
        for i, cl in enumerate(clauses):
            cond = F.lit(True) if cl.condition is None else _as_col(cl.condition)
            out.append((base & prior & cond, f"{tag}{i}"))
            # SQL:2003 14.9 GR6: a clause whose condition is not True is
            # SKIPPED and the next clause considered — a NULL condition
            # must not poison the rest of the chain (~NULL is NULL).
            prior = prior & ~F.coalesce(cond, F.lit(False))
        return out

    arms: list[tuple[Column, str]] = []
    arms += pick_action(is_matched, matched, "m")
    arms += pick_action(s_only, not_matched, "i")
    arms += pick_action(t_only, not_matched_by_source, "b")

    action = F.lit("keep")
    # build the chain back-to-front so earlier clauses win
    for guard, label in reversed(arms):
        action = F.when(guard, F.lit(label)).otherwise(action)
    # unmatched source rows with no firing insert clause vanish
    action = F.when(s_only & (action == "keep"), F.lit("drop")).otherwise(action)
    j = j.withColumn(_ACTION, action)

    src_cols = set(source.columns)

    def updated_value(c: str, cl: _Clause) -> Column:
        if cl.assignments is None:  # UPDATE SET * (matched only)
            if c in src_cols:
                return F.col(f"{source_alias}.{c}")
            return F.col(f"{target_alias}.{c}")
        if c in cl.assignments:
            return _as_col(cl.assignments[c])
        return F.col(f"{target_alias}.{c}")

    def inserted_value(c: str, cl: _Clause) -> Column:
        if cl.assignments is not None and c in cl.assignments:
            return _as_col(cl.assignments[c])
        if cl.assignments is None and c in src_cols:  # INSERT *
            return F.col(f"{source_alias}.{c}")
        if c in src_cols:
            return F.col(f"{source_alias}.{c}")
        return F.lit(None)

    out_cols = []
    tgt_schema = dict(zip(target.columns, [f.dataType for f in target.schema.fields]))
    for c in target.columns:
        v = F.col(f"{target_alias}.{c}")
        for i, cl in enumerate(matched):
            if cl.action == "update":
                v = F.when(F.col(_ACTION) == f"m{i}", updated_value(c, cl)).otherwise(v)
        for i, cl in enumerate(not_matched_by_source):
            if cl.action == "update":
                v = F.when(F.col(_ACTION) == f"b{i}", updated_value(c, cl)).otherwise(v)
        for i, cl in enumerate(not_matched):
            v = F.when(F.col(_ACTION) == f"i{i}", inserted_value(c, cl)).otherwise(v)
        out_cols.append(v.cast(tgt_schema[c]).alias(c))

    deletes = [f"m{i}" for i, cl in enumerate(matched) if cl.action == "delete"]
    deletes += [
        f"b{i}" for i, cl in enumerate(not_matched_by_source) if cl.action == "delete"
    ]
    kept = ~F.col(_ACTION).isin(["drop"] + deletes)
    return j.filter(kept).select(*out_cols)


def merge_classify(
    target: DataFrame,
    source: DataFrame,
    on: Union[list[str], ColumnLike],
    matched: list[_Clause] = (),
    not_matched: list[_Clause] = (),
    not_matched_by_source: list[_Clause] = (),
    target_alias: str = "t",
    source_alias: str = "s",
) -> DataFrame:
    """Dry-run audit: one row per (action, n_rows) the merge WOULD take —
    the metrics frame Delta returns as operation stats (numTargetRows
    Updated/Deleted/Inserted). Same single-join plan, aggregate instead
    of projection."""
    matched = list(matched)
    not_matched = list(not_matched)
    not_matched_by_source = list(not_matched_by_source)
    _validate(matched, not_matched, not_matched_by_source)
    j, _ = _joined(target, source, on, target_alias, source_alias)
    is_matched = F.col(_T_MARK).isNotNull() & F.col(_S_MARK).isNotNull()
    t_only = F.col(_T_MARK).isNotNull() & F.col(_S_MARK).isNull()
    s_only = F.col(_T_MARK).isNull() & F.col(_S_MARK).isNotNull()

    def label(cl: _Clause) -> str:
        return cl.action

    arms: list[tuple[Column, str]] = []
    for base, clauses, fallback in (
        (is_matched, matched, "keep"),
        (s_only, not_matched, "drop"),
        (t_only, not_matched_by_source, "keep"),
    ):
        prior = F.lit(True)
        for cl in clauses:
            cond = F.lit(True) if cl.condition is None else _as_col(cl.condition)
            arms.append((base & prior & cond, label(cl)))
            # NULL condition = skipped clause, not a poisoned chain (GR6)
            prior = prior & ~F.coalesce(cond, F.lit(False))
        arms.append((base & prior, fallback))

    action = F.lit(None).cast("string")
    for guard, lab in reversed(arms):
        action = F.when(guard, F.lit(lab)).otherwise(action)
    return (
        j.select(action.alias("action"))
        .groupBy("action")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )

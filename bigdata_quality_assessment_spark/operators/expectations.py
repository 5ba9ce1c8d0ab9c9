"""Declarative data-quality expectations (engine extension — the
rule-based face of the repo's data-quality mission, alongside the
statistical profiling in operators/profiling.py and the regex
validity_rates pass).

``check_expectations`` evaluates a rule list against a table and
returns one row per rule: ``(rule, kind, n_rows, n_violations,
pass_rate)``. Rule kinds:

  * ``not_null(col)``            — col IS NOT NULL
  * ``in_range(col, lo, hi)``    — lo <= col <= hi (nulls violate)
  * ``in_set(col, values)``      — col IN values (nulls violate)
  * ``matches(col, regex)``      — col RLIKE regex (nulls violate)
  * ``expr(sql)``                — arbitrary SQL boolean
  * ``unique(cols)``             — no duplicate (cols) tuple; a
    violation is every row beyond the first of its group. Rows with
    a NULL in any key column are EXEMPT (SQL-standard UNIQUE)
  * ``ref(col, other, other_col)`` — referential integrity: every
    non-null col value exists in other[other_col]

Execution shape: all ROW-WISE kinds (not_null/in_range/in_set/
matches/expr) fold into ONE aggregation pass — adding a rule adds a
sum column, not a scan. ``unique`` adds one map-side-combined
groupBy per distinct column-set; ``ref`` adds one UNHINTED anti-join
count per referenced table — AQE broadcasts a dimension-shaped
reference and degrades a fact-to-fact integrity check to a shuffle
join instead of a driver OOM (the repo's no-forced-broadcast
discipline). ``ref`` is also per-group decidable in
``check_expectations_by`` and skew-safe there (the join key is the
reference key, not the group).
Violation COUNTS, not violating rows, cross the wire — the row-level
drill-down is ``df.filter(NOT rule)`` when a rule fails.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


@dataclass(frozen=True)
class Expectation:
    name: str
    kind: str
    params: dict[str, Any] = field(default_factory=dict)


def not_null(col: str, name: str | None = None) -> Expectation:
    return Expectation(name or f"not_null({col})", "not_null", {"col": col})


def in_range(col: str, lo, hi, name: str | None = None) -> Expectation:
    return Expectation(
        name or f"in_range({col},{lo},{hi})", "in_range", {"col": col, "lo": lo, "hi": hi}
    )


def in_set(col: str, values, name: str | None = None) -> Expectation:
    return Expectation(
        name or f"in_set({col})", "in_set", {"col": col, "values": tuple(values)}
    )


def matches(col: str, regex: str, name: str | None = None) -> Expectation:
    return Expectation(name or f"matches({col})", "matches", {"col": col, "regex": regex})


def sql_expr(sql: str, name: str | None = None) -> Expectation:
    return Expectation(name or f"expr({sql})", "expr", {"sql": sql})


def unique(cols: list[str] | str, name: str | None = None) -> Expectation:
    cols = [cols] if isinstance(cols, str) else list(cols)
    return Expectation(name or f"unique({','.join(cols)})", "unique", {"cols": tuple(cols)})


def ref(col: str, other: DataFrame, other_col: str, name: str | None = None) -> Expectation:
    return Expectation(
        name or f"ref({col})", "ref", {"col": col, "other": other, "other_col": other_col}
    )


def _row_ok(e: Expectation):
    """Row-level PASS expression for row-wise kinds, or None for the
    set-level kinds (unique/ref). THE single dispatch — the audit
    (check_expectations) and the enforcement (enforce_expectations)
    must agree on what violates."""
    p = e.params
    if e.kind == "not_null":
        return F.col(p["col"]).isNotNull()
    if e.kind == "in_range":
        return F.col(p["col"]).between(p["lo"], p["hi"])
    if e.kind == "in_set":
        return F.col(p["col"]).isin(*p["values"])
    if e.kind == "matches":
        return F.col(p["col"]).rlike(p["regex"])
    if e.kind == "expr":
        return F.expr(p["sql"])
    return None


def _row_violation(e: Expectation):
    ok = _row_ok(e)
    if ok is None:
        return None
    # null predicate result = violation (ANSI three-valued logic would
    # otherwise let nulls pass every check silently); coalesce makes
    # the empty-frame sum 0, not null
    return F.coalesce(
        F.sum(F.when(ok.isNull() | ~ok, 1).otherwise(0)), F.lit(0)
    ).cast("long")


RESERVED_COLS = ("rule", "kind", "n_rows", "n_violations", "pass_rate")


def _report_pairs(rules: list[Expectation], col_for) -> list:
    """The shared (rule, kind, n_rows, n_violations, pass_rate) struct
    array — ONE definition of the report shape for the table-wide and
    per-group audits."""
    pairs = []
    for j, e in enumerate(rules):
        v = F.col(col_for(j))
        pairs.append(
            F.struct(
                F.lit(e.name).alias("rule"),
                F.lit(e.kind).alias("kind"),
                F.col("__n").cast("long").alias("n_rows"),
                v.alias("n_violations"),
                F.when(F.col("__n") > 0, 1.0 - v / F.col("__n"))
                .otherwise(F.lit(1.0))
                .alias("pass_rate"),
            )
        )
    return pairs


def _empty_report(spark, lead: str = "") -> DataFrame:
    schema = ("" if not lead else f"{lead}, ") + (
        "rule string, kind string, n_rows long, n_violations long, pass_rate double"
    )
    return local_frame(spark, [], schema)


def check_expectations(df: DataFrame, rules: list[Expectation]) -> DataFrame:
    """Evaluate ``rules`` against ``df`` → ``(rule, kind, n_rows,
    n_violations, pass_rate)``, one row per rule in input order."""
    spark = df.sparkSession
    if not rules:
        return _empty_report(spark)
    row_rules = [e for e in rules if _row_violation(e) is not None]
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        _row_violation(e).alias(f"__v{i}") for i, e in enumerate(row_rules)
    ]
    wide = df.agg(*aggs)

    # every result column is keyed by the rule's POSITION in the input
    # list, never its (possibly auto-generated, possibly colliding)
    # name — two matches() rules on one column must not share a count
    results = wide  # one-row frame, grown by cross-joined counts
    col_for: dict[int, str] = {}
    row_i = 0
    for j, e in enumerate(rules):
        if e.kind == "unique":
            cols = list(e.params["cols"])
            # SQL-standard UNIQUE semantics: rows with a NULL in any
            # key column are exempt from the uniqueness check
            nn = df
            for c in cols:
                nn = nn.filter(F.col(c).isNotNull())
            dup = (
                nn.groupBy(*cols)
                .agg((F.count(F.lit(1)) - 1).alias("__d"))
                .agg(F.coalesce(F.sum("__d"), F.lit(0)).cast("long").alias(f"__u{j}"))
            )
            results = results.crossJoin(dup)
            col_for[j] = f"__u{j}"
        elif e.kind == "ref":
            other = e.params["other"].select(
                F.col(e.params["other_col"]).alias("__k")
            ).distinct()
            # no broadcast hint: reference tables are usually
            # dimension-shaped (AQE broadcasts them), but a fact-fact
            # ref must degrade to a shuffle join, not a driver OOM —
            # same discipline as the dedup dup-key tables
            missing = (
                df.select(F.col(e.params["col"]).alias("__k"))
                .filter(F.col("__k").isNotNull())
                .join(other, "__k", "left_anti")
                .agg(F.count(F.lit(1)).cast("long").alias(f"__r{j}"))
            )
            results = results.crossJoin(missing)
            col_for[j] = f"__r{j}"
        else:
            col_for[j] = f"__v{row_i}"
            row_i += 1

    pairs = _report_pairs(rules, lambda j: col_for[j])
    return results.select(F.explode(F.array(*pairs)).alias("p")).select(
        "p.rule", "p.kind", "p.n_rows", "p.n_violations", "p.pass_rate"
    )


def _row_predicate(e: Expectation):
    """Null-safe row-level PASS predicate (None for unique/ref)."""
    ok = _row_ok(e)
    if ok is None:
        return None
    return F.coalesce(ok, F.lit(False))  # null predicate = fail


def enforce_expectations(
    df: DataFrame,
    rules: list[Expectation],
    reason_col: str = "_failed_rules",
    cache: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Row-level enforcement of the ROW-WISE rules: returns
    ``(passing, quarantined)`` — the quarantine side carries
    ``reason_col: array<string>`` naming every failed rule, so the
    quarantine sink is self-describing (the same stance as
    sources/io.quarantine for parse failures). One narrow projection,
    no shuffle; ``unique``/``ref`` rules are ignored here (they are
    set-level properties — audit them with ``check_expectations`` and
    resolve winners with dedup/joins). ``cache=True`` (default) caches
    the tagged frame so materializing BOTH sides evaluates every rule
    predicate once, not twice (the sources/io.quarantine contract —
    same unpersist caveat)."""
    if reason_col in df.columns:
        raise ValueError(
            f"input already has a {reason_col!r} column; pass a different "
            "reason_col instead of silently overwriting it"
        )
    preds = [(e, _row_predicate(e)) for e in rules]
    preds = [(e, p) for e, p in preds if p is not None]
    if not preds:
        return df, df.limit(0).withColumn(
            reason_col, F.lit(None).cast("array<string>")
        )
    failed = F.filter(
        F.array(
            *[F.when(~p, F.lit(e.name)).otherwise(F.lit(None)) for e, p in preds]
        ),
        lambda x: x.isNotNull(),
    )
    tagged = df.withColumn(reason_col, failed)
    if cache:
        tagged = tagged.cache()
    passing = tagged.filter(F.size(reason_col) == 0).drop(reason_col)
    quarantined = tagged.filter(F.size(reason_col) > 0)
    return passing, quarantined


def check_expectations_by(
    df: DataFrame, rules: list[Expectation], group_col: str
) -> DataFrame:
    """Per-group audit: one output row per (group, rule) — the
    per-source quality dashboard (which ingest feed is violating
    which contract). Row-wise rules fold into ONE aggregation pass
    (groupBy + the same violation sums). ``ref`` rules are per-group
    decidable too (how many of THIS feed's keys are missing from the
    reference): each adds one anti-join on the (group, key)
    projection, UNHINTED so AQE broadcasts a dimension-shaped
    reference and degrades a fact-fact ref to a shuffle join — and
    because the join key is the REFERENCE key, not the group, a
    skewed group distribution does not skew the join (one hot group's
    rows spread across key partitions; pinned in
    tests/test_expectations.py). ``unique`` rules remain table-level
    and raise here."""
    if group_col in RESERVED_COLS or group_col.startswith("__"):
        raise ValueError(
            f"group_col {group_col!r} collides with a report column; "
            "rename it before auditing"
        )
    bad = [e.kind for e in rules if _row_ok(e) is None and e.kind != "ref"]
    if bad:
        raise ValueError(
            f"set-level rule kinds {bad} are not per-group decidable; "
            "audit them table-wide with check_expectations"
        )
    if not rules:
        return _empty_report(df.sparkSession, lead=f"{group_col} string")
    row_rules = [e for e in rules if _row_violation(e) is not None]
    aggs = [F.count(F.lit(1)).alias("__n")] + [
        _row_violation(e).alias(f"__v{i}") for i, e in enumerate(row_rules)
    ]
    wide = df.groupBy(group_col).agg(*aggs)

    col_for: dict[int, str] = {}
    row_i = 0
    for j, e in enumerate(rules):
        if e.kind == "ref":
            other = e.params["other"].select(
                F.col(e.params["other_col"]).alias("__k")
            ).distinct()
            missing = (
                df.select(F.col(group_col), F.col(e.params["col"]).alias("__k"))
                .filter(F.col("__k").isNotNull())
                .join(other, "__k", "left_anti")
                .groupBy(group_col)
                .agg(F.count(F.lit(1)).cast("long").alias(f"__r{j}"))
            )
            # groups with zero missing keys drop out of the anti-join
            # result — outer-join back and zero-fill so every group
            # reports the rule. NULL-SAFE key: a NULL group (rows with
            # no source tag are a real feed) must still receive its
            # missing-key count, and a plain equi-join would drop it
            # to the zero-fill silently.
            miss_g = missing.withColumnRenamed(group_col, "__mg")
            wide = (
                wide.join(
                    miss_g, F.col(group_col).eqNullSafe(F.col("__mg")), "left"
                )
                .drop("__mg")
                .withColumn(
                    f"__r{j}",
                    F.coalesce(F.col(f"__r{j}"), F.lit(0).cast("long")),
                )
            )
            col_for[j] = f"__r{j}"
        else:
            col_for[j] = f"__v{row_i}"
            row_i += 1
    pairs = _report_pairs(rules, lambda j: col_for[j])
    return wide.select(
        group_col, F.explode(F.array(*pairs)).alias("p")
    ).select(group_col, "p.rule", "p.kind", "p.n_rows", "p.n_violations", "p.pass_rate")

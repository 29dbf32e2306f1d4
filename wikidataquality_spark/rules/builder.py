"""Validation-DAG builder: compose rules → violations array → keep/drop.

Parity: DelegatingConstraintChecker (ref≈includes/ConstraintCheck/
DelegatingConstraintChecker.php:~40-200) — fetch constraints, dispatch each to
its checker, collect CheckResult[]. The reference loops row-at-a-time with
per-property SQL lookups; here the whole rule set compiles into ONE select of
Column expressions, so Catalyst evaluates every rule for every row inside a
single whole-stage-codegen'd projection — no dispatch cost, no Python.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wikidataquality_spark.rules.library import RULE_FACTORIES
from wikidataquality_spark.rules.model import HARD, VIOLATION, CheckExpr, Rule, sql_str


def rule_check_expr(rule: Rule) -> CheckExpr:
    """SQL fragments for one rule (see model.CheckExpr for why strings)."""
    factory = RULE_FACTORIES.get(rule.rule_type)
    if factory is None:
        raise ValueError(f"unknown rule_type {rule.rule_type!r} ({rule.rule_id})")
    return factory(rule)


def rule_check_column(rule: Rule) -> Column:
    return F.expr(rule_check_expr(rule).struct)


def apply_rules(
    df: DataFrame,
    rules: Sequence[Rule],
    violations_col: str = "violations",
    keep_col: str = "keep",
    violated_rules_col: str = "violated_rules",
) -> DataFrame:
    """Evaluate every per-row rule; append violations array + keep decision.

    keep = no HARD-severity rule reported a violation (exception status does
    not drop a doc — same as the reference, where exceptions are excusals).

    Cost shape: keep and violated_rules are built DIRECTLY from the per-rule
    status expressions, not by re-filtering the violations array — Catalyst's
    projection collapse + filter pushdown inline every reference to a derived
    column, so an array-of-structs consumed three times would be *built*
    three times per row (measured ~3× on the rules stage). Statuses are CASE
    expressions over (cheap, usually cached) attribute columns; duplicating
    those is nearly free.

    The whole rule set compiles to exactly THREE F.expr columns (violations
    array, keep, violated_rules) composed from SQL strings — the
    Column-per-subexpression version spent ~1.3s of py4j round trips per
    plan construction, pure driver-serial time (model.CheckExpr)."""
    checks = [rule_check_expr(r) for r in rules]

    hard = [c for c, r in zip(checks, rules) if r.severity == HARD]
    keep_sql = (
        " AND ".join(f"(({c.status}) != {sql_str(VIOLATION)})" for c in hard)
        if hard
        else "TRUE"
    )
    violated_sql = "array_compact(array(" + ", ".join(
        f"CASE WHEN ({c.status}) = {sql_str(VIOLATION)} "
        f"THEN {sql_str(c.rule_id)} END"
        for c in checks
    ) + "))"
    violations_sql = "array(" + ", ".join(c.struct for c in checks) + ")"
    return df.withColumns(
        {
            violations_col: F.expr(violations_sql),
            keep_col: F.expr(keep_sql),
            # parameterized like the other two outputs — a hardcoded name
            # silently overwrote a pre-existing violated_rules column for
            # callers renaming to avoid collisions (r04 review)
            violated_rules_col: F.expr(violated_sql),
        }
    )


def decide(df: DataFrame, keep_col: str = "keep") -> DataFrame:
    """Kept documents only (the pipeline's output side; drops are metrics-only)."""
    return df.filter(F.col(keep_col))

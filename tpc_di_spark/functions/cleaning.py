"""Scalar cleaning/derivation functions (SURVEY §2.2) as Column factories.

Every function returns a Column expression (JVM-side, codegen-friendly) —
the reference implements each as per-row Python (`Historical/DimCustomer.py:
222-270`, `prospect.py:184-216`); none needs a UDF.
"""

from __future__ import annotations

from typing import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column


def nullif_trim(c) -> Column:
    """Empty-string→NULL trim — SURVEY P11 (`Historical/test.py:222-236`
    `.strip() or None`)."""
    return F.nullif(F.trim(c), F.lit(""))


def gender_norm(c) -> Column:
    """Upper-case; anything outside {M,F} (incl. NULL) → 'U' — SURVEY P4,
    the *intended* semantic of `Historical/DimCustomer.py:222-224` (the
    incremental variant at `IncrementalCustomer.py:240-242` has an
    always-true boolean bug this deliberately does not reproduce)."""
    u = F.upper(c)
    return F.when(u.isin("M", "F"), u).otherwise(F.lit("U"))


def format_phone(ctry, area, local, ext) -> Column:
    """Compose ``+ctry (area) local ext`` from 4 nullable parts — SURVEY P5
    (`Historical/DimCustomer.py:245-270`): 3-case fallthrough, NULL when
    the local part is missing; extension appended when present."""
    base = (
        F.when(
            ctry.isNotNull() & area.isNotNull(),
            F.concat(F.lit("+"), ctry, F.lit(" ("), area, F.lit(") "), local),
        )
        .when(area.isNotNull(), F.concat(F.lit("("), area, F.lit(") "), local))
        .otherwise(local)
    )
    withext = F.when(ext.isNotNull(), F.concat(base, F.lit(" "), ext)).otherwise(base)
    return F.when(local.isNull(), F.lit(None).cast("string")).otherwise(withext)


def nameplate_tags(predicates_and_tags: Sequence[tuple[Column, str]]) -> Column:
    """Ordered marketing-nameplate derivation — SURVEY P6
    (`Historical/prospect.py:184-216`): evaluate threshold predicates in
    order, join matching tags with '+', NULL when none match.
    ``concat_ws`` skips NULL parts and compiles; an ``array_compact``
    form would be a higher-order function without code generation."""
    parts = [F.when(pred, F.lit(tag)) for pred, tag in predicates_and_tags]
    return F.nullif(F.concat_ws("+", *parts), F.lit(""))


def decode_flag(c, truthy: str = "1") -> Column:
    """'1'→true else false — SURVEY P13 (`Historical/DimTrade.py:43-44`)."""
    return (c == F.lit(truthy)).cast("boolean")


def domain_validate(c, valid: Sequence[str]) -> Column:
    """Value outside the domain → NULL (alert rows are the caller's filter
    branch) — SURVEY P12 (`Historical/test.py:213-215,239`)."""
    return F.when(c.isin(*list(valid)), c).otherwise(F.lit(None).cast("string"))

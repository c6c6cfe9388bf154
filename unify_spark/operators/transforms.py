"""Prepare-engine melt (SURVEY §2.2), re-expressed as a columnar operation.
In the reference the per-row transforms compose per record inside
``record->entity`` (src/com/vendekagonlabs/unify/import/engine/parse/data.clj:628-687);
the one carried here is the wide → long-format unpivot, the DataFrame form
of unify's ``:unify/variable``/``:unify/value`` and of its matrix blobs
(whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def molten(
    df: DataFrame,
    id_cols: list[str],
    value_cols: list[str],
    variable_name: str = "variable",
    value_name: str = "value",
) -> DataFrame:
    """Melt/unpivot (data.clj:537-553 `:unify/variable`+`:unify/value`):
    wide measurement columns → (variable, value) long rows via the built-in
    unpivot (the stack() physical form)."""
    return df.unpivot(
        [F.col(c) for c in id_cols],
        [F.col(c) for c in value_cols],
        variable_name,
        value_name,
    )

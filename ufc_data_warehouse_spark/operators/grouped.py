"""Arrow-batched grouped-map operators: ``groupBy().applyInPandas`` and
``groupBy().applyInArrow``.

These complete the Python-UDF API surface (SURVEY §2.10 — the reference
has no in-database UDFs at all; `operators/udafs.py` covers grouped-AGG
pandas UDFs, `operators/multimodal.py` covers scalar/iterator pandas
UDFs, this module covers the grouped-MAP form).

``minmax_normalize`` exists as a built-in-expressible query too (window
min/max) — it is implemented through the pandas API deliberately, as the
pattern template for logic that genuinely needs per-group imperative code
(model scoring, per-group curve fitting). The semantics are pinned to
engine-neutral definitions so a plain-SQL oracle can verify them
bit-for-bit.

Scale posture: ``applyInPandas`` is ONE hash exchange on the group key;
each group must fit in one executor's memory as a pandas/Arrow frame —
fine for HIGH-CARDINALITY keys (per-user, per-document: bounded rows
per key), wrong for whole-table groups AND for low-cardinality keys
(a ~5-value key like event_type makes each group ~1/5 of the table —
one executor materializes ~20 TB at the 100 TB scale, the grouped-map
twin of the LOWCARD-WINDOW shape tools/plan_audit.py flags). The demo
queries key by user_id for exactly this reason; per-low-card-key
statistics belong in JVM partial aggs (groupBy) or the two-phase rank
operators. Arrow transfers batches columnar; no per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["minmax_normalize", "group_id_stats_arrow"]


def minmax_normalize(df: DataFrame, key: str, value: str) -> DataFrame:
    """Per-group min-max normalization via grouped-map ``applyInPandas``.

    norm = (x − min) / (max − min), 0.0 for degenerate single-valued
    groups. Division of two IEEE doubles in the same expression shape an
    SQL engine would use — bit-identical to a window-function oracle.

    Returns (event_id, key, value, norm_value).
    """
    import pandas as pd

    key_type = dict(df.dtypes)[key]
    out_schema = (
        f"event_id long, {key} {key_type}, {value} double, norm_value double"
    )

    def normalize(pdf: "pd.DataFrame") -> "pd.DataFrame":
        lo = pdf[value].min()
        hi = pdf[value].max()
        span = hi - lo
        norm = (pdf[value] - lo) / span if span > 0 else pdf[value] * 0.0
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                key: pdf[key],
                value: pdf[value],
                "norm_value": norm,
            }
        )

    return (
        df.select("event_id", key, value)
        .groupBy(key)
        .applyInPandas(normalize, schema=out_schema)
    )


def group_id_stats_arrow(df: DataFrame, key: str) -> DataFrame:
    """Per-group stats via ``groupBy().applyInArrow`` — the Arrow-NATIVE
    grouped-map form (Spark 4): the UDF receives/returns a
    ``pyarrow.Table`` with no pandas materialization in between, the
    zero-copy path for columnar group logic (the pandas variants pay an
    Arrow→pandas conversion per group).

    Outputs are integers only (count, min/max of event_id) so the result
    is reduction-order-free and exactly reproducible in any engine.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    key_type = dict(df.dtypes)[key]
    out_schema = f"{key} {key_type}, n long, min_id long, max_id long"

    def stats(t: "pa.Table") -> "pa.Table":
        ids = t.column("event_id")
        return pa.table(
            {
                key: [t.column(key)[0].as_py()],
                "n": [t.num_rows],
                "min_id": [pc.min(ids).as_py()],
                "max_id": [pc.max(ids).as_py()],
            }
        )

    return df.select(key, "event_id").groupBy(key).applyInArrow(
        stats, schema=out_schema
    )

"""One-off input preparation, run in its own process before a measured run.

Builds, under ``<data root>/<key>/``:

- ``warehouse/``: the seeded input tables that ``dashboard`` and
  ``refresh`` read (gen.py);
- ``raw/``: the library's UFC raw-layer frames (``synth.ufc_raw_tables``)
  over ``warehouse/``, saved as parquet so each seed's CSV fixture is a
  cheap reshuffle of them;
- ``x10/``: the 10x corpus from ``scalegen.ensure_scale_dir`` over a
  second seeded base, for ``batch_10x``;
- ``oracle.json``: every expected answer, computed by the library's DuckDB
  oracle SQL over the same files.

The key holds ``scalegen.GENERATOR_VERSION`` and this generator's version,
so a generator change rebuilds everything. Usage::

    python3 perfbench/prepare.py <data_root>
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=120)


def data_key() -> str:
    from ufc_data_warehouse_spark.scalegen import GENERATOR_VERSION

    return f"scalegen{GENERATOR_VERSION}-gen{spec.GEN_VERSION}"


def _oracles(root: str) -> dict:
    import __spark_entry__ as entry

    from ufc_data_warehouse_spark.oracle import oracle_for

    sqls = entry.oracle_sql()
    out: dict = {"cards": {}, "sql_cards": {}, "marts": {}, "checks": {}, "batch": {}}
    con = check.duck(os.path.join(root, "warehouse"))
    for name in spec.CARDS:
        out["cards"][name] = check.summary(*check.duck_rows(con, sqls[name]))
    for name, card in spec.SQL_CARDS.items():
        cols, rows = check.duck_rows(
            con,
            f"SELECT {', '.join(card['cols'])} FROM ({oracle_for(card['model'])}) "
            f"ORDER BY {card['order']}",
        )
        out["sql_cards"][name] = {
            "columns": cols, "rows": [[check.norm(v) for v in r] for r in rows]
        }
    for mart in spec.MARTS:
        cols, rows = check.duck_rows(con, oracle_for(mart))
        out["marts"][mart] = check.summary(cols, rows)
        rules = spec.CHECKS.get(mart)
        if rules:
            out["checks"][mart] = spec.expected_checks(cols, rows, rules)
    con.close()
    con = check.duck(os.path.join(root, "x10"))
    for name in spec.BATCH:
        out["batch"][name] = check.summary(*check.duck_rows(con, sqls[name]))
    con.close()
    return out


def prepare(data_root: str) -> str:
    """Build the inputs unless they are already there; returns their
    directory."""
    root = os.path.join(data_root, data_key())
    if os.path.exists(os.path.join(root, "_READY")):
        return root
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.perf_counter()
    gen.write_tables(os.path.join(tmp, "warehouse"), spec.DATA_SEED, spec.WAREHOUSE_SF)
    gen.write_tables(os.path.join(tmp, "base10"), spec.DATA_SEED + 1, spec.BATCH_BASE_SF)

    from ufc_data_warehouse_spark.scalegen import ensure_scale_dir
    from ufc_data_warehouse_spark.session import get_spark
    from ufc_data_warehouse_spark.synth import ufc_raw_tables

    spark = get_spark(app_name="perfbench-prepare")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ensure_scale_dir(
            spark, os.path.join(tmp, "base10"), os.path.join(tmp, "x10"), factor=10
        )
        os.makedirs(os.path.join(tmp, "raw"))
        for name, df in ufc_raw_tables(spark, os.path.join(tmp, "warehouse")).items():
            pq.write_table(df.toArrow(), os.path.join(tmp, "raw", f"{name}.parquet"))
        oracles = _oracles(tmp)
    finally:
        stop_spark(spark)
    with open(os.path.join(tmp, "oracle.json"), "w") as fh:
        json.dump(oracles, fh)
    with open(os.path.join(tmp, "_READY"), "w") as fh:
        json.dump({"prepare_s": time.perf_counter() - t0}, fh)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return root


if __name__ == "__main__":
    prepare(sys.argv[1])

"""What each workload runs, at which scale, and what it must return."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# bump when the generated inputs or the expected answers change shape
GEN_VERSION = 5
# the base tables are fixed; --seed varies what a run does with them
DATA_SEED = 20240413

# scale factor of the tables behind dashboard and refresh, and of the
# base that scalegen multiplies by 10 for batch_10x (sized so that a run
# of each workload fits the benchmark's time budget on a 4-core box)
WAREHOUSE_SF = 0.001
BATCH_BASE_SF = 0.001

# the dashboard: 6 of the library's 16 BI cards, called through their
# query functions (the full set does not fit one run's time budget on a
# 4-core box)
CARDS = (
    "card_best_record_top25",
    "card_consec_defenses_top50",
    "card_longest_streaks_top25",
    "card_qof_at_time_top25",
    "card_title_reigns_days_top200",
    "card_wins_over_champions_top25",
)

# the card whose warm-up call fills the api cache before the measured load
WARM_UP_CARD = "card_title_reigns_days_top200"

# a parameterized leaderboard sent as SQL text through api.sql; its
# ORDER BY is a total order, so any LIMIT :k has one right answer
SQL_CARDS = {
    "sql_champ_rounds_top_k": {
        "model": "championship_rounds_fought",
        "view": "fighters_extracted_goat_status.mv_championship_rounds_fought",
        "cols": ["fighter", "title_fights", "championship_rounds_fought"],
        "order": "championship_rounds_fought DESC, title_fights DESC, fighter ASC",
    },
}


def sql_text(card: dict) -> str:
    return (
        f"SELECT {', '.join(card['cols'])} FROM {card['view']} "
        f"ORDER BY {card['order']} LIMIT :k"
    )


# refresh: 2 of the 6 marts run_pipeline writes by default, the two the
# dbt-style tests below run on (all six do not fit the run budget on a
# 4-core box)
MARTS = (
    "fct_fights",
    "title_reigns",
)
CHECKS = {
    "fct_fights": {
        "not_null": ["fight_id", "event_name"],
        "unique": [["fight_id"]],
    },
    "title_reigns": {
        "not_null": ["fighter", "weight_category", "start_date"],
        "unique": [["fighter", "weight_category", "start_date"]],
    },
}


def expected_checks(columns: list[str], rows, rules: dict) -> dict[str, int]:
    """The violation counts validation.run_checks must report for a mart
    whose oracle rows are given."""
    idx = {c: i for i, c in enumerate(columns)}
    out: dict[str, int] = {}
    for c in rules.get("not_null", []):
        out[f"not_null:{c}"] = sum(1 for r in rows if r[idx[c]] is None)
    for keys in rules.get("unique", []):
        seen: dict[tuple, int] = {}
        for r in rows:
            k = tuple(r[idx[c]] for c in keys)
            seen[k] = seen.get(k, 0) + 1
        out["unique:" + ",".join(keys)] = sum(1 for n in seen.values() if n > 1)
    return out


# batch_10x: one query per operator family
FAMILIES = {
    "dedup_embedding_lsh90": "dedup",
    "graph_pagerank_top100": "graph",
    "ann_pq_adc_topk": "simsearch",
    "bm25_doc_ranking": "retrieval",
    "streaming_tumbling_counts": "streaming",
}
BATCH = tuple(FAMILIES)

# raw table -> CSV stem that sources.ingest routes back to the same name
CSV_STEMS = {
    "dim_ufc_event_details": "ufc_event_details",
    "fact_ufc_fight_results": "ufc_fight_results",
    "fact_ufc_fight_details": "ufc_fight_details",
    "fact_ufc_fight_stats": "ufc_fight_stats",
    "dim_ufc_fighter_details": "ufc_fighter_details",
    "dim_ufc_fighter_tott": "ufc_fighter_tott",
}
VACANCY_TABLE = "title_status_changes_outside_octagon"
CSV_PARTS = 3


def _write_csv(table: pa.Table, path: str) -> None:
    # headers as the scraper writes them ("TIME FORMAT"); the loader
    # normalises them back to snake_case
    table = table.rename_columns(
        [c.upper().replace("_", " ") for c in table.column_names]
    )
    pacsv.write_csv(table, path)


def write_csv_fixture(root: str, seed: int) -> str:
    """The refresh input for ``seed``: every raw table as CSV, rows
    shuffled, the larger tables split at seeded row positions over
    CSV_PARTS part files in a ``<stem>.csv/`` directory (a fixed count, so
    every seed asks for the same number of ingest tasks). Returns the
    fixture directory."""
    out = os.path.join(root, "csv", str(seed))
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    rng = np.random.default_rng(seed)
    tables = os.path.join(out, "tables")
    os.makedirs(tables, exist_ok=True)
    for name in sorted(CSV_STEMS) + [VACANCY_TABLE]:
        table = pq.read_table(os.path.join(root, "raw", f"{name}.parquet"))
        table = table.take(rng.permutation(table.num_rows))
        if name == VACANCY_TABLE:
            _write_csv(table, os.path.join(out, "vacancies.csv"))
            continue
        n_files = CSV_PARTS if table.num_rows > 1000 else 1
        inner = rng.choice(np.arange(1, table.num_rows), n_files - 1, replace=False)
        cuts = [0, *sorted(int(c) for c in inner), table.num_rows]
        part_dir = os.path.join(tables, f"{CSV_STEMS[name]}.csv")
        os.makedirs(part_dir, exist_ok=True)
        for i in range(n_files):
            _write_csv(
                table.slice(cuts[i], cuts[i + 1] - cuts[i]),
                os.path.join(part_dir, f"part-{i:05d}.csv"),
            )
    open(os.path.join(out, "_READY"), "w").close()
    return out

"""Analytics layer — the "GOAT status" leaderboard models.

Spark-native re-expressions of the reference's analytics views (file:line
cited per model). Conventions applied throughout:

- **Null ordering**: Postgres defaults are ASC→NULLS LAST, DESC→NULLS FIRST;
  Spark's are the opposite (SURVEY O2). Every window/sort over a nullable key
  spells it explicitly (``asc_nulls_last``/``desc_nulls_first``).
- **Deterministic tiebreaks**: where the reference orders a window by a
  non-unique key (e.g. ``order by event_date`` alone), engines may break ties
  arbitrarily → cross-engine nondeterminism. We thread the unique fight url
  through as a final tiebreak on BOTH the Spark and oracle side; a strict
  refinement of the reference's semantics.
- **Unpivot idiom (U1)**: the reference's fighter_1/fighter_2 UNION ALL
  re-scans its source. Here it is one ``stack(2, …)`` generator in a
  ``selectExpr``: a single pass that emits both sides of each row. Two
  selects + unionByName would not share their input — each union branch
  plans its own copy, so a broadcast join under the unpivot (the events
  dim) runs as two broadcast jobs.
- All aggregates producing Postgres ``bigint`` are cast to LongType so the
  DuckDB oracle (HUGEINT sums) and Spark agree on schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..exprs import not_null_or_empty, weight_category
from ..registry import model

# Window tiebreak ordering used by the reference's streak/record models:
# order by event_date, event, bout, fight_id
# (fighters_by_longest_winning_streak.sql:41-49; quality_of_opposition_faced.sql:49-58)
def _fight_order():
    return [
        F.asc_nulls_last("event_date"),
        F.asc("event"),
        F.asc("bout"),
        F.asc("fight_id"),
    ]


# ---------------------------------------------------------------------------
# simple aggregate family (SURVEY §7 phase 3)
# ---------------------------------------------------------------------------


@model("fighters_by_wins", deps=["stg_fight_results"], alias="mv_fighters_by_wins")
def fighters_by_wins(d: dict[str, DataFrame]) -> DataFrame:
    """count(*) by winner (fighters_by_wins.sql:3-10) — A1 hash agg."""
    return (
        d["stg_fight_results"]
        .filter(not_null_or_empty("winner"))
        .groupBy(F.col("winner").alias("fighter"))
        .agg(F.count("*").alias("wins"))
        .orderBy(F.desc("wins"))
    )


def _wins_by_method(d: dict[str, DataFrame], methods: list[str], out: str) -> DataFrame:
    return (
        d["stg_fight_results"]
        .filter(F.col("method_group").isin(methods) & not_null_or_empty("winner"))
        .groupBy(F.col("winner").alias("fighter"))
        .agg(F.count("*").alias(out))
    )


@model("fighters_by_ko_wins", deps=["stg_fight_results"], alias="mv_fighters_by_ko_wins")
def fighters_by_ko_wins(d: dict[str, DataFrame]) -> DataFrame:
    """KO/TKO wins (fighters_by_ko_wins.sql:3-11)."""
    return _wins_by_method(d, ["KO/TKO"], "ko_wins").orderBy(F.desc("ko_wins"))


@model(
    "fighters_by_submission_wins",
    deps=["stg_fight_results"],
    alias="mv_fighters_by_submission_wins",
)
def fighters_by_submission_wins(d: dict[str, DataFrame]) -> DataFrame:
    """Submission wins (fighters_by_submission_wins.sql:3-11)."""
    return _wins_by_method(d, ["Submission"], "submission_wins").orderBy(
        F.desc("submission_wins")
    )


@model(
    "fighters_by_non_decision_wins",
    deps=["stg_fight_results"],
    schema="goat_status",
    alias="mv_fighters_by_non_decision_wins",
)
def fighters_by_non_decision_wins(d: dict[str, DataFrame]) -> DataFrame:
    """KO + submission wins (fighters_by_non_decision_wins.sql:3-17) — P6 IN-list."""
    return _wins_by_method(d, ["KO/TKO", "Submission"], "non_decision_wins").orderBy(
        F.desc("non_decision_wins"), F.asc("fighter")
    )


@model(
    "fight_time_per_division",
    deps=["stg_fight_results"],
    alias="mv_fight_time_per_division",
)
def fight_time_per_division(d: dict[str, DataFrame]) -> DataFrame:
    """Average fight time per raw weightclass (fight_time_per_division.sql:3-12)."""
    return (
        d["stg_fight_results"]
        .filter(F.col("weightclass").isNotNull() & F.col("fight_time_minutes").isNotNull())
        .groupBy("weightclass")
        .agg(
            F.count("*").alias("fight_count"),
            # order-free: exact integer sum of seconds, ONE final division
            # (avg() over per-row seconds/60.0 doubles is accumulation-order
            # dependent and differs in the last ulp across engines/shuffles)
            (
                F.sum("fight_time_seconds").cast("double")
                / (F.count("*") * 60).cast("double")
            ).alias("avg_fight_time_minutes"),
            (
                F.sum("fight_time_seconds").cast("double")
                / F.count("*").cast("double")
            ).alias("avg_fight_time_seconds"),
        )
        .orderBy(F.desc("avg_fight_time_minutes"), F.desc("fight_count"), F.asc("weightclass"))
    )


@model(
    "fightrers_by_avg_fight_time_min_5",
    deps=["stg_fight_results"],
    alias="mv_fightrers_by_avg_fight_time_min_5",
)
def fightrers_by_avg_fight_time_min_5(d: dict[str, DataFrame]) -> DataFrame:
    """Avg fight time per fighter, ≥5 min (fightrers_by_avg_fight_time_min_5.sql:3-31;
    model name keeps the reference's typo for parity)."""
    base = d["stg_fight_results"].filter(F.col("fight_time_minutes").isNotNull())
    fighters = base.selectExpr(
        "fight_time_seconds", "stack(2, fighter_1, fighter_2) AS (fighter)"
    )
    return (
        fighters.filter(not_null_or_empty("fighter"))
        .groupBy("fighter")
        .agg(
            F.count("*").alias("fight_count"),
            # order-free exact form (see fight_time_per_division)
            (
                F.sum("fight_time_seconds").cast("double")
                / (F.count("*") * 60).cast("double")
            ).alias("avg_fight_time_minutes"),
        )
        .filter(F.col("avg_fight_time_minutes") >= 5)
        .orderBy(F.desc("avg_fight_time_minutes"), F.desc("fight_count"))
    )


@model(
    "fighters_best_record",
    deps=["stg_fight_results"],
    schema="goat_status",
    alias="mv_fighters_best_record_min_10_fights",
)
def fighters_best_record(d: dict[str, DataFrame]) -> DataFrame:
    """Win/loss/NC record + win_pct, ≥10 fights (fighters_best_record.sql:3-44)
    — A3 conditional aggs + X15 float division."""
    sfr = d["stg_fight_results"]
    rows = sfr.selectExpr(
        "stack(2, fighter_1, upper(outcome_1), fighter_2, upper(outcome_2))"
        " AS (fighter, outcome)"
    )
    counts = (
        rows.filter(not_null_or_empty("fighter"))
        .groupBy("fighter")
        .agg(
            F.count("*").alias("total_fights"),
            F.sum(F.when(F.col("outcome") == "W", 1).otherwise(0)).cast("long").alias("wins"),
            F.sum(F.when(F.col("outcome") == "L", 1).otherwise(0)).cast("long").alias("losses"),
            F.sum(F.when(~F.col("outcome").isin("W", "L"), 1).otherwise(0))
            .cast("long")
            .alias("nc"),
        )
    )
    return (
        counts.filter(F.col("total_fights") >= 10)
        .select(
            "fighter",
            "wins",
            "losses",
            "nc",
            "total_fights",
            F.when(
                F.col("total_fights") > 0,
                F.col("wins").cast("double") / F.col("total_fights"),
            ).alias("win_pct"),
        )
        .orderBy(F.desc("win_pct"), F.desc("wins"), F.asc("losses"), F.asc("fighter"))
    )


@model(
    "clutch_wins",
    deps=["stg_fight_results"],
    schema="goat_status",
    alias="mv_clutch_wins_min_10_fights",
)
def clutch_wins(d: dict[str, DataFrame]) -> DataFrame:
    """Round-4+ finish wins for fighters with ≥10 fights (clutch_wins.sql:3-36)
    — J8 semi-join-as-filter + P7 range predicate."""
    sfr = d["stg_fight_results"]
    totals = (
        sfr.selectExpr("stack(2, fighter_1, fighter_2) AS (fighter)")
        .filter(not_null_or_empty("fighter"))
        .groupBy("fighter")
        .agg(F.count("*").alias("total_fights"))
    )
    return (
        sfr.filter(
            (F.col("round_number") >= 4)
            & F.col("method_group").isin("KO/TKO", "Submission")
            & not_null_or_empty("winner")
        )
        .join(
            F.broadcast(totals.filter(F.col("total_fights") >= 10)),
            sfr["winner"] == totals["fighter"],
            "inner",
        )
        .groupBy(F.col("winner").alias("fighter"))
        .agg(F.count("*").alias("clutch_wins"))
        .orderBy(F.desc("clutch_wins"), F.asc("fighter"))
    )


# ---------------------------------------------------------------------------
# window-function family (SURVEY §7 phase 4)
# ---------------------------------------------------------------------------


@model(
    "fighters_by_longest_winning_streak",
    deps=["stg_fight_results", "stg_event_details"],
    schema="goat_status",
    alias="mv_fighters_by_longest_winning_streak",
)
def fighters_by_longest_winning_streak(d: dict[str, DataFrame]) -> DataFrame:
    """Gaps-and-islands streak detection (fighters_by_longest_winning_streak.sql:3-80)
    — W5 running-sum loss_group partitions win streaks."""
    results = d["stg_fight_results"].filter(
        F.col("fighter_1").isNotNull() & F.col("fighter_2").isNotNull()
    )
    events = d["stg_event_details"].select("event", "event_date")
    fights = results.join(F.broadcast(events), "event", "left").select(
        F.col("url").alias("fight_id"),
        "event",
        "bout",
        "event_date",
        "fighter_1",
        "fighter_2",
        "outcome_1",
        "outcome_2",
    )
    rows = fights.selectExpr(
        "fight_id", "event", "bout", "event_date",
        "stack(2, fighter_1, upper(outcome_1), fighter_2, upper(outcome_2))"
        " AS (fighter, outcome)",
    )
    w = Window.partitionBy("fighter").orderBy(*_fight_order())
    ordered = rows.filter(not_null_or_empty("fighter")).select(
        "fighter",
        "outcome",
        F.sum(F.when(F.col("outcome") == "W", 0).otherwise(1))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("loss_group"),
    )
    streaks = (
        ordered.filter(F.col("outcome") == "W")
        .groupBy("fighter", "loss_group")
        .agg(F.count("*").alias("streak_length"))
    )
    return (
        streaks.groupBy("fighter")
        .agg(F.max("streak_length").alias("longest_win_streak"))
        .filter(F.col("longest_win_streak") >= 10)
        .orderBy(F.desc("longest_win_streak"), F.asc("fighter"))
    )


@model(
    "dominant_style_per_division_year",
    deps=["stg_fight_results", "stg_event_details"],
    alias="mv_dominant_style_per_division_year",
)
def dominant_style_per_division_year(d: dict[str, DataFrame]) -> DataFrame:
    """Most common finishing method per (weightclass, year)
    (dominant_style_per_division_year.sql:3-43) — W4 dense_rank."""
    events = d["stg_event_details"].select("event", "event_year")
    counts = (
        d["stg_fight_results"]
        .filter(F.col("weightclass").isNotNull() & F.col("method_group").isNotNull())
        .join(F.broadcast(events.filter(F.col("event_year").isNotNull())), "event", "inner")
        .groupBy("weightclass", "event_year", "method_group")
        .agg(F.count("*").alias("fight_count"))
    )
    w = Window.partitionBy("weightclass", "event_year").orderBy(
        F.desc("fight_count"), F.asc("method_group")
    )
    return (
        counts.withColumn("style_rank", F.dense_rank().over(w))
        .filter(F.col("style_rank") == 1)
        .select(
            "weightclass",
            "event_year",
            F.col("method_group").alias("winning_method"),
            "fight_count",
        )
        .orderBy(F.desc("fight_count"), "weightclass", "event_year", "winning_method")
    )


@model(
    "championship_rounds_fought",
    deps=["stg_fight_results"],
    schema="goat_status",
    alias="mv_championship_rounds_fought",
)
def championship_rounds_fought(d: dict[str, DataFrame]) -> DataFrame:
    """Weighted championship rounds (R4→1, R5+→2), ≥5 title fights
    (championship_rounds_fought.sql:3-47) — A7 HAVING + X14 CASE ladder."""
    tf = d["stg_fight_results"].filter(
        F.col("weightclass").ilike("%Title Bout%")
        & ~F.col("weightclass").ilike("%interim%")
        & ~F.col("weightclass").ilike("%tournament%")
    )
    rows = tf.selectExpr("round_number", "stack(2, fighter_1, fighter_2) AS (fighter)")
    return (
        rows.filter(not_null_or_empty("fighter"))
        .groupBy("fighter")
        .agg(
            F.count("*").alias("title_fights"),
            F.sum(
                F.when(F.col("round_number") == 4, 1)
                .when(F.col("round_number") >= 5, 2)
                .otherwise(0)
            )
            .cast("long")
            .alias("championship_rounds_fought"),
        )
        .filter(F.col("title_fights") >= 5)
        .orderBy(
            F.desc("championship_rounds_fought"), F.desc("title_fights"), F.asc("fighter")
        )
    )


@model(
    "title_fight_results_by_fighter",
    deps=["stg_fight_results"],
    schema="goat_status",
    alias="mv_title_fight_results_by_fighter",
)
def title_fight_results_by_fighter(d: dict[str, DataFrame]) -> DataFrame:
    """Title-fight W/L per fighter per raw weightclass
    (title_fight_results_by_fighter.sql:3-44)."""
    tf = d["stg_fight_results"].filter(F.col("weightclass").ilike("%Title Bout%"))
    rows = tf.selectExpr(
        "weightclass AS category",
        "stack(2, fighter_1, upper(outcome_1), fighter_2, upper(outcome_2))"
        " AS (fighter, outcome)",
    )
    return (
        rows.filter(not_null_or_empty("fighter"))
        .groupBy("fighter", "category")
        .agg(
            F.sum(F.when(F.col("outcome") == "W", 1).otherwise(0))
            .cast("long")
            .alias("title_fight_wins"),
            F.sum(F.when(F.col("outcome") == "L", 1).otherwise(0))
            .cast("long")
            .alias("title_fight_losses"),
        )
        .orderBy(F.desc("title_fight_wins"), F.asc("title_fight_losses"), F.asc("fighter"))
    )


@model(
    "quality_of_opposition_faced",
    deps=["stg_fight_results", "stg_event_details"],
    schema="goat_status",
    alias="mv_quality_of_opposition_faced",
)
def quality_of_opposition_faced(d: dict[str, DataFrame]) -> DataFrame:
    """Average opponent point-in-time win% (quality_of_opposition_faced.sql:3-86)
    — W6 prior-record frame (UNBOUNDED..1 PRECEDING), W7 whole-partition
    career wins, J6 self-join on (fight_id, opponent=fighter)."""
    events = d["stg_event_details"].select("event", "event_date")
    fights = (
        d["stg_fight_results"]
        .filter(not_null_or_empty("winner"))
        .join(F.broadcast(events), "event", "inner")
        .select(
            F.col("url").alias("fight_id"),
            "event", "bout", "event_date", "fighter_1", "fighter_2", "winner",
        )
    )
    rows = fights.selectExpr(
        "fight_id", "event", "bout", "event_date",
        "stack(2,"
        " fighter_1, fighter_2, CASE WHEN winner = fighter_1 THEN 1 ELSE 0 END,"
        " fighter_2, fighter_1, CASE WHEN winner = fighter_2 THEN 1 ELSE 0 END)"
        " AS (fighter, opponent, is_win)",
    )
    w = Window.partitionBy("fighter").orderBy(*_fight_order())
    prior = w.rowsBetween(Window.unboundedPreceding, -1)
    records = rows.select(
        "fight_id",
        "fighter",
        "opponent",
        F.sum("is_win").over(prior).alias("prior_wins"),
        F.sum(F.when(F.col("is_win") == 1, 0).otherwise(1)).over(prior).alias("prior_losses"),
        F.sum("is_win").over(Window.partitionBy("fighter")).alias("career_wins"),
    )
    # The reference self-joins records⋈records on (fight_id, opponent=fighter)
    # (quality_of_opposition_faced.sql:75-78). Each fight contributes exactly
    # two record rows, so the equivalent — and at scale far cheaper — plan
    # pairs the rows of one fight via a fight_id window: one shuffle, and the
    # expensive upstream (unpivot + 3 window functions) is computed ONCE
    # instead of on both join sides (Catalyst can't reuse the exchange because
    # column pruning makes the two sides structurally different). In a 2-row
    # group the opponent's value is simply (window sum − own value) — plain
    # sums instead of collect_list-of-structs + array filter, which benches
    # ~2× faster at sf0.1 (no per-row array materialization).
    wf = Window.partitionBy("fight_id")
    joined = (
        # own prior_* is NULL on a fighter's first fight (empty frame); coalesce
        # before subtracting or the NULL poisons the opponent's value — the
        # window sum itself already skips the NULL side correctly
        records.withColumn("n_in_fight", F.count("*").over(wf))
        .withColumn(
            "o_prior_wins",
            F.sum("prior_wins").over(wf) - F.coalesce("prior_wins", F.lit(0)),
        )
        .withColumn(
            "o_prior_losses",
            F.sum("prior_losses").over(wf) - F.coalesce("prior_losses", F.lit(0)),
        )
        .withColumn(
            "o_career_wins", F.sum("career_wins").over(wf) - F.col("career_wins")
        )
        # NULL opponent never matches the reference's r2.fighter = r1.opponent
        # join predicate — drop those rows exactly like the inner self-join does
        .filter(F.col("n_in_fight") == 2)
        .filter(F.col("opponent").isNotNull())
        .select(
            "fight_id",
            "fighter",
            "o_prior_wins",
            "o_prior_losses",
            "o_career_wins",
            "career_wins",
        )
    )
    denom = F.col("o_prior_wins") + F.col("o_prior_losses")
    return (
        joined.filter(not_null_or_empty("fighter"))
        .groupBy("fighter")
        .agg(
            F.count("*").alias("fights"),
            F.max("career_wins").cast("long").alias("wins"),
            # order-free: each per-row ratio is rounded to DECIMAL(18,10)
            # (identical nearest-rounding on both engines), summed exactly,
            # then divided once — avg() over raw doubles is accumulation-
            # order dependent and drifts a ulp across engines/shuffles
            (
                F.sum(
                    F.when(
                        denom > 0, F.col("o_prior_wins").cast("double") / denom
                    ).cast("decimal(18,10)")
                ).cast("double")
                / F.count(
                    F.when(denom > 0, F.lit(1))
                ).cast("double")
            ).alias("avg_opponent_win_pct_at_time"),
            (
                F.sum("o_career_wins").cast("double")
                / F.count("*").cast("double")
            ).alias("avg_opponent_career_wins"),
        )
        .filter(F.col("wins") >= 10)
        .orderBy(
            F.desc("wins"),
            F.desc("avg_opponent_win_pct_at_time"),
            F.desc("avg_opponent_career_wins"),
            F.asc("fighter"),
        )
    )


@model(
    "wins_over_champions",
    deps=["stg_fight_results", "stg_event_details"],
    alias="mv_wins_over_champions",
)
def wins_over_champions(d: dict[str, DataFrame]) -> DataFrame:
    """Wins where the opponent was already a champion
    (wins_over_champions.sql:3-63) — J3 theta/as-of-flavored join:
    equi on opponent name + ``first_title_win_date <= event_date``."""
    events = d["stg_event_details"].select("event", "event_date")
    sfr = d["stg_fight_results"].filter(not_null_or_empty("winner"))
    title_wins = sfr.filter(
        F.col("weightclass").ilike("%Title Bout%")
        & ~F.col("weightclass").ilike("%interim%")
        & ~F.col("weightclass").ilike("%tournament%")
    ).join(F.broadcast(events), "event", "inner")
    champions = title_wins.groupBy(F.col("winner").alias("champ")).agg(
        F.min("event_date").alias("first_title_win_date")
    )
    fights = sfr.join(F.broadcast(events), "event", "inner").select(
        F.col("url").alias("fight_id"),
        "event", "bout", "weightclass", "event_date",
        F.col("winner").alias("fighter"),
        F.when(F.col("winner") == F.col("fighter_1"), F.col("fighter_2"))
        .otherwise(F.col("fighter_1"))
        .alias("opponent"),
    )
    return (
        fights.join(
            F.broadcast(champions),
            (fights["opponent"] == champions["champ"])
            & (champions["first_title_win_date"] <= fights["event_date"]),
            "inner",
        )
        .select("fighter", "opponent", "event_date", "event", "bout", "weightclass")
        .orderBy(F.desc_nulls_first("event_date"), F.asc("fighter"), F.asc("opponent"))
    )


@model(
    "wins_over_champions_agg",
    deps=["wins_over_champions"],
    schema="goat_status",
    alias="mv_wins_over_champions_agg",
)
def wins_over_champions_agg(d: dict[str, DataFrame]) -> DataFrame:
    """Distinct champion opponents beaten (wins_over_champions_agg.sql:3-10)
    — A5 exact count(distinct)."""
    return (
        d["wins_over_champions"]
        .filter(not_null_or_empty("fighter"))
        .groupBy("fighter")
        .agg(F.countDistinct("opponent").alias("wins_over_champions"))
        .orderBy(F.desc("wins_over_champions"), F.asc("fighter"))
    )


@model(
    "title_defenses",
    deps=["stg_fight_results", "stg_event_details"],
    schema="goat_status",
    alias="mv_title_defenses",
)
def title_defenses(d: dict[str, DataFrame]) -> DataFrame:
    """Title wins after the first in a division = defenses
    (title_defenses.sql:3-64) — W1 row_number. Tiebreak: the reference
    orders by event_date alone; url is added on both engines for
    determinism under same-day title wins."""
    events = d["stg_event_details"].select("event", "event_date")
    wins = (
        d["stg_fight_results"]
        .filter(
            not_null_or_empty("winner")
            & F.col("weightclass").ilike("%Title Bout%")
            & ~F.col("weightclass").ilike("%interim%")
            & ~F.col("weightclass").ilike("%tournament%")
        )
        .join(F.broadcast(events), "event", "inner")
        .select(
            F.col("winner").alias("fighter"),
            weight_category("weightclass", strip_interim=False).alias("weight_category"),
            "event_date",
            "url",
        )
    )
    w = Window.partitionBy("fighter", "weight_category").orderBy(
        F.asc_nulls_last("event_date"), F.asc("url")
    )
    return (
        wins.filter(not_null_or_empty("weight_category"))
        .withColumn("title_win_number", F.row_number().over(w))
        .groupBy("fighter", "weight_category")
        .agg(
            F.sum(F.when(F.col("title_win_number") > 1, 1).otherwise(0))
            .cast("long")
            .alias("title_defenses")
        )
        .filter(F.col("title_defenses") > 0)
        .orderBy(F.asc("weight_category"), F.desc("title_defenses"), F.asc("fighter"))
    )


@model(
    "consecutive_title_defenses",
    deps=["stg_fight_results", "stg_event_details"],
    schema="goat_status",
    alias="mv_consecutive_title_defenses",
)
def consecutive_title_defenses(d: dict[str, DataFrame]) -> DataFrame:
    """Longest consecutive title-defense streak per division
    (consecutive_title_defenses.sql:3-100) — W5 gaps-and-islands + A4
    FILTER-clause agg + X12 greatest(x-1,0). url threaded as tiebreak."""
    events = d["stg_event_details"].select("event", "event_date")
    tf = (
        d["stg_fight_results"]
        .filter(
            F.col("weightclass").ilike("%Title Bout%")
            & ~F.col("weightclass").ilike("%interim%")
            & ~F.col("weightclass").ilike("%tournament%")
        )
        .join(F.broadcast(events.filter(F.col("event_date").isNotNull())), "event", "inner")
        .select(
            "event_date",
            weight_category("weightclass", strip_interim=False).alias("weight_category"),
            "fighter_1", "fighter_2", "outcome_1", "outcome_2", "url",
        )
    )

    rows = tf.selectExpr(
        "weight_category", "event_date", "url",
        "stack(2, fighter_1, upper(outcome_1), fighter_2, upper(outcome_2))"
        " AS (fighter, result)",
    )
    w = (
        Window.partitionBy("fighter", "weight_category")
        .orderBy(F.asc("event_date"), F.asc("url"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ordered = rows.filter(
        not_null_or_empty("fighter")
        & not_null_or_empty("weight_category")
        & F.col("result").isin("W", "L")
    ).select(
        "fighter",
        "weight_category",
        "result",
        F.sum(F.when(F.col("result") == "L", 1).otherwise(0)).over(w).alias("loss_group"),
    )
    streaks = ordered.groupBy("fighter", "weight_category", "loss_group").agg(
        F.count(F.when(F.col("result") == "W", 1)).alias("win_streak")
    )
    return (
        streaks.groupBy("fighter", "weight_category")
        .agg(
            F.max(F.greatest(F.col("win_streak") - 1, F.lit(0)))
            .cast("long")
            .alias("max_consecutive_title_defenses")
        )
        .filter(F.col("max_consecutive_title_defenses") >= 1)
        .orderBy(F.desc("max_consecutive_title_defenses"), F.asc("fighter"), F.asc("weight_category"))
    )


@model(
    "title_fights",
    deps=["stg_fight_results", "stg_event_details"],
    alias="mv_title_fights",
)
def title_fights(d: dict[str, DataFrame]) -> DataFrame:
    """All title fights enriched with event info (title_fights.sql:3-20)."""
    events = d["stg_event_details"].select("event", "event_date", "event_year", "location")
    return (
        d["stg_fight_results"]
        .filter(F.col("weightclass").ilike("%Title Bout%"))
        .join(F.broadcast(events), "event", "left")
        .select(
            "event", "bout", "weightclass", "method", "round_number",
            "time", "time_format", "winner", "url",
            "event_date", "event_year", "location",
        )
        .orderBy(F.desc_nulls_last("event_date"), F.asc("event"), F.asc("bout"))
    )

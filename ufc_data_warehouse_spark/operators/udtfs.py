"""SQL UDTFs over partitioned TABLE arguments (Spark 4).

The TABLE-argument form with PARTITION BY / ORDER BY is the SQL-surface
twin of ``applyInPandas``: the engine shuffles on the partition keys,
orders rows within each partition, and feeds each group through its own
UDTF instance (``eval`` per row, ``terminate`` at group end). That makes
arbitrary per-entity sequential logic — sessionization, pattern
detection, state machines — callable from PURE SQL, no DataFrame code:

    SELECT * FROM session_count_udtf(
      TABLE(SELECT user_id, ts FROM events)
      PARTITION BY user_id ORDER BY ts)

Scale posture: identical to any keyed shuffle — one exchange on the
partition keys; group state is one entity's scalars, not its rows, so
memory is O(1) per group (unlike grouped-map pandas, which materializes
the whole group).
"""

from __future__ import annotations


def register_table_udtfs(spark) -> None:
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id bigint, n_sessions int, n_events int")
    class SessionCountUdtf:
        """30-minute-gap session counter. With a TABLE argument, ``eval``
        receives each input row as a single Row object (not unpacked
        columns); one UDTF instance serves one partition, so instance
        attributes ARE the per-entity state."""

        def __init__(self) -> None:
            self.user = None
            self.prev = None
            self.sessions = 0
            self.events = 0

        def eval(self, row):
            self.user = row["user_id"]
            self.events += 1
            ts = row["ts"]
            if (
                self.prev is None
                or (ts - self.prev).total_seconds() > 1800
            ):
                self.sessions += 1
            self.prev = ts

        def terminate(self):
            if self.user is not None:
                yield self.user, self.sessions, self.events

    spark.udtf.register("session_count_udtf", SessionCountUdtf)

    @udtf(returnType="user_id bigint, n_events int, ewma double")
    class EwmaUdtf:
        """Exponentially-weighted moving average with alpha = 1/2 —
        ``s := (value + s) / 2`` per ordered row, first row seeds the
        state. Genuinely sequential (each step depends on the previous),
        so it CANNOT be a window/agg — this is exactly the shape the
        TABLE-argument UDTF exists for, with O(1) state per entity.

        alpha = 1/2 is chosen for cross-engine exactness: halving a
        double is exact and addition is IEEE-correctly-rounded, so any
        engine replaying the same ordered sequence (the DuckDB oracle
        uses a recursive CTE) lands on the bit-identical result —
        a general alpha would round differently under a different
        multiply order."""

        def __init__(self) -> None:
            self.user = None
            self.s = None
            self.n = 0

        def eval(self, row):
            self.user = row["user_id"]
            v = row["value"]
            self.s = v if self.s is None else (v + self.s) / 2
            self.n += 1

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.s

    spark.udtf.register("ewma_udtf", EwmaUdtf)


def register_balance_udtf(spark) -> None:
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="user_id bigint, n_steps int, final_cents bigint, n_clamps int"
    )
    class ClampedBalanceUdtf:
        """Capped running balance — the inventory/credit-limit
        recurrence ``bal := min(CAP, max(0, bal + delta))`` per ordered
        row. The CLAMP is what makes it genuinely sequential: a plain
        running sum is a window, but once a step saturates, every later
        value depends on where the clamp bit — no prefix-sum
        decomposition exists (non-associative). Integer cents
        throughout ⇒ bit-exact vs the oracle's recursive-CTE replay.
        The integer twin of EwmaUdtf's float recurrence; O(1) state
        per entity."""

        CAP = 50_000

        def __init__(self) -> None:
            self.user = None
            self.bal = 0
            self.n = 0
            self.clamps = 0

        def eval(self, row):
            self.user = row["user_id"]
            self.n += 1
            raw = self.bal + row["delta_cents"]
            clamped = min(self.CAP, max(0, raw))
            if clamped != raw:
                self.clamps += 1
            self.bal = clamped

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, self.bal, self.clamps

    spark.udtf.register("clamped_balance_udtf", ClampedBalanceUdtf)


def register_polymorphic_udtf(spark) -> None:
    """The remaining Spark 4 UDTF feature: a POLYMORPHIC table function —
    output schema computed at PLAN time by a static ``analyze`` method
    from the literal argument, not fixed in the decorator. Here
    ``pick_stats_udtf(TABLE(...), 'min,max')`` emits one column per
    requested stat, named after it — the SQL-surface analog of a macro
    that expands to different projections.
    """
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import LongType, StructType
    from pyspark.sql.udtf import AnalyzeResult

    class PickStatsUdtf:
        @staticmethod
        def analyze(table_arg, stats_arg) -> AnalyzeResult:
            wanted = [s.strip() for s in stats_arg.value.split(",")]
            schema = StructType().add("user_id", LongType())
            for s in wanted:
                schema = schema.add(f"{s}_cents", LongType())
            return AnalyzeResult(schema=schema)

        def __init__(self) -> None:
            self.user = None
            self.vals: list[int] = []
            self.wanted: list[str] | None = None

        def eval(self, row, stats):
            if self.wanted is None:
                self.wanted = [s.strip() for s in stats.split(",")]
            self.user = row["user_id"]
            self.vals.append(row["cents"])

        def terminate(self):
            if self.user is None:
                return
            fns = {"min": min, "max": max, "sum": sum}
            yield (
                self.user,
                *[fns[s](self.vals) for s in self.wanted or []],
            )

    spark.udtf.register("pick_stats_udtf", udtf(PickStatsUdtf))

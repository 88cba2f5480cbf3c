"""The workloads. Each has an untimed ``warm_up`` and a timed
``iteration``; every operation in a timed iteration is checked."""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

import check
import spans
import spec

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".data", "tmp", "work")


class Workload:
    def __init__(self, spark, root, oracle, seed, tracer, plant_error):
        self.spark = spark
        self.root = root
        self.oracle = oracle
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.plant_error = plant_error
        self.timed = False
        self.op_times: list[float] = []
        self.op_names: list[str] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.stats: dict[str, float | list[float]] = {}
        self._n_iter = 0

    def warm_up(self) -> None:
        """Untimed set-up before the measured phase; none by default."""

    def after_warm_up(self) -> None:
        self.timed = True

    def iteration(self) -> float:
        """Run one iteration; returns its summed operation time (checks
        between operations are not counted)."""
        self._n_iter += 1
        n_ops = len(self.op_times)
        with self.tracer.span("iteration", timed=self.timed):
            self._iteration()
        return sum(self.op_times[n_ops:])

    def _op(self, name: str, fn, span: str = "request") -> None:
        """Run one operation; time it, then check its result. ``fn``
        returns (columns, rows, expected summary); ``rows`` may be a
        callable, read after the clock stops."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span, req=f"{name}#{self._n_iter}", op=name):
                columns, rows, expected = fn()
        except Exception as ex:  # noqa: BLE001 — counted, not fatal
            if not self.timed:
                raise
            self.attempted += 1
            self.failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
            return
        dt = time.perf_counter() - t0
        if not self.timed:
            return
        self.op_times.append(dt)
        self.op_names.append(name)
        self.attempted += 1
        if callable(rows):
            rows = rows()
        if self.plant_error and rows:
            self.plant_error = False
            first = list(rows[0])
            first[0] = "planted wrong value"
            rows = [tuple(first)] + list(rows[1:])
        got = check.summary(columns, rows)
        if got != expected:
            self.failures.append(f"{name}: got {got}, want {expected}")


class Dashboard(Workload):
    """A Metabase user reloading one dashboard: the spec.CARDS through
    their query functions plus the spec.SQL_CARDS through api.sql."""

    def __init__(self, *a):
        super().__init__(*a)
        import __spark_entry__ as entry

        queries = entry.queries()
        self.fns = {name: queries[name] for name in spec.CARDS}
        self.sf_dir = os.path.join(self.root, "warehouse")
        self.items = list(spec.CARDS) + list(spec.SQL_CARDS)

    def after_warm_up(self) -> None:
        super().after_warm_up()
        if self.tracer.enabled:
            self.stats["api.cached_mb"] = spans.storage_mb(self.spark)

    def _card(self, name):
        with self.tracer.span("api.build"):
            df = self.fns[name](self.spark, self.sf_dir)
        with self.tracer.span("spark.collect"):
            rows = df.collect()
        return df.columns, rows, self.oracle["cards"][name]

    def _sql_card(self, name, k):
        from ufc_data_warehouse_spark import api

        card = spec.SQL_CARDS[name]
        with self.tracer.span("api.sql_build"):
            df = api.sql(self.spark, self.sf_dir, spec.sql_text(card), args={"k": k})
        with self.tracer.span("spark.collect"):
            rows = df.collect()
        want = self.oracle["sql_cards"][name]
        return df.columns, rows, check.summary(want["columns"], want["rows"][:k])

    def _plan(self) -> list[tuple[str, int | None]]:
        """One load: the cards in seeded order, each SQL card with its k."""
        plan = []
        for i in self.rng.permutation(len(self.items)):
            name = self.items[i]
            k = int(self.rng.integers(5, 51)) if name in spec.SQL_CARDS else None
            plan.append((name, k))
        return plan

    def _run(self, name: str, k: int | None) -> None:
        if k is None:
            self._op(name, lambda: self._card(name))
        else:
            self._op(name, lambda: self._sql_card(name, k))

    def _iteration(self) -> None:
        for name, k in self._plan():
            self._run(name, k)

    def warm_up(self) -> None:
        # one fixed card fills the api cache (the persisted staging and
        # title_reigns frames); the load measured next is the first one
        # over the filled cache
        self._run(spec.WARM_UP_CARD, None)


class Refresh(Workload):
    """A data engineer re-running the pipeline: CSV ingest, raw parquet,
    the spec.MARTS (partitioned as by default), then not_null/unique
    checks. No warm-up: a refresh runs cold, from raw CSV."""

    def __init__(self, *a, seed):
        super().__init__(*a)
        self.fixture = spec.write_csv_fixture(self.root, seed)
        self.csv_mb = _dir_mb(os.path.join(self.fixture, "tables"))
        if self.tracer.enabled:
            _instrument_pipeline(self.tracer)

    def _pipeline(self):
        from ufc_data_warehouse_spark.etl import run_pipeline

        wh = os.path.join(WORK, f"warehouse-{self._n_iter}")
        shutil.rmtree(wh, ignore_errors=True)
        result = run_pipeline(
            self.spark,
            os.path.join(self.fixture, "tables"),
            wh,
            vacancy_csv=os.path.join(self.fixture, "vacancies.csv"),
            marts=list(spec.MARTS),
            checks=spec.CHECKS,
        )
        self._last = (wh, result)
        # one row per mart (row count, digest) plus one per check count
        return (
            ["mart", "rows", "digest"],
            lambda: self._marts_read_back(result),
            self._expected(),
        )

    def _marts_read_back(self, result):
        from urllib.parse import unquote

        from ufc_data_warehouse_spark.etl import MART_PARTITIONS

        rows = []
        con = check.duckdb.connect()
        try:
            for mart in spec.MARTS:
                cols, mart_rows = check.duck_rows(
                    con,
                    f"SELECT * FROM read_parquet('{result.marts[mart]}/**/*.parquet', "
                    "hive_partitioning = true)",
                )
                # partition values come back from escaped directory names
                keys = [cols.index(c) for c in MART_PARTITIONS.get(mart, [])]
                for j, r in enumerate(mart_rows):
                    r = list(r)
                    for i in keys:
                        r[i] = (None if r[i] == "__HIVE_DEFAULT_PARTITION__"
                                else unquote(r[i]))
                    mart_rows[j] = r
                s = check.summary(cols, mart_rows)
                rows.append((mart, s["rows"], s["digest"]))
        finally:
            con.close()
        for mart, counts in sorted(result.checks.items()):
            for name, n in sorted(counts.items()):
                rows.append((f"{mart}:{name}", n, ""))
        return rows

    def _expected(self):
        rows = [(m, self.oracle["marts"][m]["rows"], self.oracle["marts"][m]["digest"])
                for m in spec.MARTS]
        for mart, counts in sorted(self.oracle["checks"].items()):
            for name, n in sorted(counts.items()):
                rows.append((f"{mart}:{name}", n, ""))
        return check.summary(["mart", "rows", "digest"], rows)

    def _iteration(self) -> None:
        self._refresh()

    def _refresh(self) -> None:
        self._op("run_pipeline", self._pipeline, span="etl.run_pipeline")
        wh, result = self._last
        if self.tracer.enabled and self.timed:
            self.stats.setdefault("registry.rows_written", []).append(
                sum(m.get("n_rows", 0) for m in result.metrics.values())
            )
            marts_dir = [d for d in os.listdir(wh) if d != "raw"]
            self.stats.setdefault("registry.mb_written", []).append(
                sum(_dir_mb(os.path.join(wh, d)) for d in marts_dir)
            )
            self.stats.setdefault("registry.files_written", []).append(
                sum(_n_files(os.path.join(wh, d)) for d in marts_dir)
            )
            self.stats.setdefault("sources.rows", []).append(
                sum(_parquet_rows(os.path.join(wh, "raw", t))
                    for t in os.listdir(os.path.join(wh, "raw")))
            )
        shutil.rmtree(wh, ignore_errors=True)


class Batch(Refresh):
    """The nightly batch job: each pass drops every cache first and pays
    for its own fills, re-runs the refresh, then the curation queries on
    the 10x corpus in seeded order."""

    def __init__(self, *a, seed, names):
        super().__init__(*a, seed=seed)
        import __spark_entry__ as entry

        queries = entry.queries()
        self.names = list(names)
        self.fns = {n: queries[n] for n in self.names}
        self.sf_dir = os.path.join(self.root, "x10")

    def warm_up(self) -> None:
        # no warm-up pass: a batch job starts cold, and every run pays
        # the same JIT and cache-fill cost in its one measured pass
        for name in self.names:
            if name not in self.oracle["batch"]:
                raise KeyError(f"no expected answer for {name}")

    def _query(self, name):
        with self.tracer.span("api.build"):
            df = self.fns[name](self.spark, self.sf_dir)
        with self.tracer.span("spark.collect"):
            rows = df.collect()
        return df.columns, rows, self.oracle["batch"][name]

    def _iteration(self) -> None:
        from ufc_data_warehouse_spark import api

        api.release_caches(self.spark)
        if self.tracer.enabled:
            self.stats.setdefault("cache.persisted_mb_after_release", []).append(
                spans.storage_mb(self.spark)
            )
        self._refresh()
        for i in self.rng.permutation(len(self.names)):
            name = self.names[i]
            self._op(name, lambda n=name: self._query(n))


def make(workload, spark, root, oracle, seed, tracer, plant_error) -> Workload:
    args = (spark, root, oracle, seed, tracer, plant_error)
    if workload == "dashboard":
        return Dashboard(*args)
    if workload == "refresh":
        return Refresh(*args, seed=seed)
    return Batch(*args, seed=seed, names=spec.BATCH)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    ) / 2**20


def _n_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path) for f in files if f.endswith(".parquet")
    )


def _instrument_pipeline(tracer) -> None:
    """Spans inside etl.run_pipeline for the traced run: ingest, each
    mart write, and the validation collects. Wrapping lives here, never in
    the library."""
    from pyspark.sql.readwriter import DataFrameWriter

    DataFrame = type(tracer.spark.range(0))  # the concrete class overrides collect

    from ufc_data_warehouse_spark import etl
    from ufc_data_warehouse_spark.registry import REGISTRY

    ingest = etl.ingest_dir
    materialize = REGISTRY.materialize
    write_parquet = DataFrameWriter.parquet
    collect = DataFrame.collect

    def traced_ingest(*a, **kw):
        with tracer.span("sources.ingest"):
            return ingest(*a, **kw)

    def traced_materialize(*a, **kw):
        with tracer.span("registry.materialize"):
            return materialize(*a, **kw)

    def traced_parquet(self, path, *a, **kw):
        inside = any(s["name"] == "registry.materialize" for s in tracer._stack)
        if not inside:
            return write_parquet(self, path, *a, **kw)
        with tracer.span("registry.write", mart=os.path.basename(path)):
            return write_parquet(self, path, *a, **kw)

    def traced_collect(self):
        inside = any(s["name"] == "etl.run_pipeline" for s in tracer._stack)
        if not inside:
            return collect(self)
        with tracer.span("validation.checks"):
            return collect(self)

    etl.ingest_dir = traced_ingest
    REGISTRY.materialize = traced_materialize
    DataFrameWriter.parquet = traced_parquet
    DataFrame.collect = traced_collect


# ---------------------------------------------------------------------------
# per-layer metrics of a traced run
# ---------------------------------------------------------------------------


def per_layer(run: Workload, tracer, session_s: float, iterations, units) -> dict:
    """The per-layer metrics named in ``units`` (name -> unit, from
    BENCHMARK.json); a layer the workload does not exercise reports 0."""
    from spans import median as _median

    out = {name: (0.0, unit) for name, unit in units.items()}
    spans = [s for s in tracer.spans if "end" in s]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)

    def tree(s):
        yield s
        for c in kids.get(s["id"], []):
            yield from tree(c)

    def dur(s):
        return s["end"] - s["start"]

    iters = [s for s in spans if s["name"] == "iteration" and s.get("timed")]
    in_timed = {x["id"] for it in iters for x in tree(it)}
    timed = [s for s in spans if s["id"] in in_timed]

    def named(name):
        return [s for s in timed if s["name"] == name]

    def put(name, value):
        out[name] = (float(value), out[name][1])

    put("session.start_s", session_s)
    put("trace.iteration_s", _median(iterations))
    iter_ids = {it["id"] for it in iters}
    ops = [s for s in timed if s["parent"] in iter_ids]  # one per operation
    put("trace.request_self_s", _median([tracer.self_time(s) for s in ops]))
    put("api.build_s", _median([dur(s) for s in named("api.build")]))
    put("api.sql_build_s", _median([dur(s) for s in named("api.sql_build")]))
    put("models.py4j_calls", _median([s["py4j_calls"] for s in named("api.build")]))
    put("spark.collect_s", _median([dur(s) for s in named("spark.collect")]))
    put("sources.ingest_s", _median([dur(s) for s in named("sources.ingest")]))
    put("registry.materialize_s", _median([dur(s) for s in named("registry.materialize")]))
    for mart in spec.MARTS:
        put(f"registry.materialize_s.{mart}",
            _median([dur(s) for s in named("registry.write") if s["mart"] == mart]))
    per_iter_checks = [
        [c for c in tree(it) if c["name"] == "validation.checks"] for it in iters
    ]
    put("validation.checks_s", _median([sum(dur(c) for c in cs) for cs in per_iter_checks]))
    put("validation.jobs", _median([sum(c.get("jobs", 0) for c in cs) for cs in per_iter_checks]))
    for key, value in run.stats.items():
        put(key, _median(value) if isinstance(value, list) else value)
    if isinstance(run, Refresh):
        put("sources.csv_mb", run.csv_mb)

    # operator families of batch_10x: busy time and graph jobs per pass
    for family in sorted(set(spec.FAMILIES.values())):
        per_pass = [
            sum(dur(r) for r in tree(it)
                if r["name"] == "request" and spec.FAMILIES.get(r["op"]) == family)
            for it in iters
        ] if isinstance(run, Batch) else []
        put(f"{family}.busy_s", _median(per_pass))
    if isinstance(run, Batch):
        put("graph.jobs_per_pass", _median([
            sum(x.get("jobs", 0) for r in tree(it)
                if r["name"] == "request" and spec.FAMILIES.get(r["op"]) == "graph"
                for x in tree(r))
            for it in iters
        ]))

    # Spark engine: mean per operation, slowest-stage skew per iteration
    if ops:
        for key in ("jobs", "stages", "tasks", "executor_run_s",
                    "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
            total = 0.0
            for op in ops:
                for x in tree(op):
                    if key == "jobs":
                        total += x.get("jobs", 0)
                    elif key == "stages":
                        total += len(x.get("stages", []))
                    else:
                        total += sum(st[key] for st in x.get("stages", []))
            put(f"spark.{key}", total / len(ops))
    skews = []
    for it in iters:
        stages = [st for x in tree(it) for st in x.get("stages", [])]
        if stages:
            skews.append(max(stages, key=lambda st: st["executor_run_s"])["skew"])
    put("spark.task_skew", _median(skews))
    return out

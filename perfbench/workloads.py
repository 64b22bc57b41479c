"""The benchmark workloads.

Each workload is a closed loop with one client thread.  ``run_pass`` runs
one pass; the blocks inside ``clock()`` count into that pass's wall time.
Inputs come from the benchmark seed only; the package sees only the
generated inputs.  Output checks, deleting the state a pass created and a
JVM plus Python GC all happen outside the clock.
"""

from __future__ import annotations

import datetime as dt
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from weather_data_pipeline_spark import pipeline, registry
from weather_data_pipeline_spark.sources import weather as wsrc
from weather_data_pipeline_spark.streaming import jobs
from weather_data_pipeline_spark.transforms import flatten_raw

import tables

#: Fields of a served row compared against the synthesized document.
_CHECKED = {
    "localtime_epoch": ("location", "localtime_epoch"),
    "temp_c": ("current", "temp_c"),
    "humidity": ("current", "humidity"),
    "wind_dir": ("current", "wind_dir"),
}


def _days(start: dt.date, n: int) -> list[str]:
    return [(start + dt.timedelta(days=i)).isoformat() for i in range(n)]


def _latest_rows(dates: list[str]) -> dict[str, dict]:
    """Expected latest row per city, straight from the document synthesizer:
    every city's latest ``localtime`` falls on the window's last day."""
    last = max(dates)
    return {c: wsrc.synthesize_raw_doc(c, last) for c in wsrc.CITIES}


def _row_ok(row: dict, doc: dict) -> bool:
    return row.get("city") == doc["location"]["name"] and all(
        row.get(k) == doc[a][b] for k, (a, b) in _CHECKED.items()
    )


def _rows_ok(rows: list[dict], expected: dict[str, dict]) -> bool:
    """One row per city, each equal to its expected latest row."""
    by_city = {r["city"]: r for r in rows}
    return len(rows) == len(expected) and all(
        _row_ok(by_city.get(c, {}), doc) for c, doc in expected.items()
    )


class Workload:
    #: seconds of untimed warm-up passes after the first (cold) pass (at
    #: least one pass); minimum number of timed passes.
    warmup_s = 0.0
    min_passes = 3

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work = spark, tracer, work
        self.rng = random.Random(seed)
        self.attempted = self.failed = 0
        #: operation -> wall time of each of its timed calls
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.passes = self.timed_passes = 0
        self._timing = False

    def bind(self, spark, tracer) -> None:
        """Continue on another session (the plain phase of a traced run)."""
        self.spark, self.tracer = spark, tracer

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def attempt(self, what: str, fn):
        """Run one operation; an exception counts as a failure (returns None)."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.fail(what)
            return None

    @contextmanager
    def clock(self, op: str):
        """Time the enclosed block as one call of operation ``op``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._timing:
                self.samples[op].append(time.perf_counter() - t0)

    def run_pass(self, timed: bool) -> None:
        self._timing = timed
        self.one_pass(self.passes)
        self.passes += 1
        self.timed_passes += timed
        gc.collect()
        self.spark._jvm.System.gc()

    def reset_timing(self) -> None:
        self.samples.clear()
        self.timed_passes = 0

    def medians(self) -> dict[str, float]:
        """Each operation's median wall time over its timed calls."""
        return {op: statistics.median(v) for op, v in self.samples.items()}

    def run_s(self) -> float:
        """Wall time of a typical pass: the sum over a pass's operations of
        each one's median, so one slow call moves only its own median."""
        return sum(
            statistics.median(v) * len(v) / self.timed_passes
            for v in self.samples.values()
        )

    def prepare(self) -> None:
        pass

    def one_pass(self, i: int) -> None:
        raise NotImplementedError

    def finish(self) -> None:
        pass


class Etl(Workload):
    """The paper's pipeline, batch then incremental, in every pass:

    - batch: raw JSON → staged → curated parquet (a fresh table) →
      latest-per-key, persisted and served whole, then per-city serve
      requests;
    - stream: ``days_per_pass`` days land one at a time into a fresh raw
      root, each followed by one ``availableNow`` trigger of the
      incremental latest-per-key job with its own state and checkpoint.
    """

    n_days = 6
    serves = 6
    days_per_pass = 2

    def prepare(self) -> None:
        start = dt.date(2023, 1, 1) + dt.timedelta(days=self.rng.randrange(700))
        self.dates = _days(start, self.n_days)
        self.raw = os.path.join(self.work, "raw")
        pipeline.extract_to_raw(self.raw, self.dates)
        self.expected = _latest_rows(self.dates)
        self.stream_start = start + dt.timedelta(days=self.n_days)

    def one_pass(self, i: int) -> None:
        self._batch(i)
        self._stream(i)

    def _batch(self, i: int) -> None:
        table, path = f"perfbench.weather_{i}", os.path.join(self.work, f"table_{i}")
        cities = [self.rng.choice(wsrc.CITIES) for _ in range(self.serves)]
        span = self.tracer.span
        snap, rows, served = None, None, []
        self.attempted += 1
        try:
            with self.clock("curate"), span("pipeline.curate"):
                pipeline.curate(self.spark, pipeline.stage(self.spark, self.raw),
                                table=table, path=path)
            with self.clock("latest_serve"), span("pipeline.latest_serve"):
                snap = pipeline.latest_snapshot(self.spark, table).persist()
                rows = pipeline.serve(snap, "All")
            for city in cities:
                with self.clock("serve"), span("pipeline.serve"):
                    got = self.attempt(f"serve {city}", lambda: pipeline.serve(snap, city))
                served.append((city, got))
            self.tracer.output("pipeline.curate", path)
        except Exception:
            traceback.print_exc(file=sys.stderr)
        if rows is None or not _rows_ok([json.loads(r) for r in rows], self.expected):
            self.fail(f"batch pass {i}")
        for city, got in served:
            if got is not None and not (
                len(got) == 1 and _row_ok(json.loads(got[0]), self.expected[city])
            ):
                self.fail(f"serve {city}: {got}")
        if snap is not None:
            snap.unpersist()
        self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)

    def _trigger(self, root: str, state: str, ckpt: str) -> bool:
        src = flatten_raw(jobs.stream_raw_weather(self.spark, root))
        jobs.incremental_latest_per_key(
            self.spark, src, "city", "localtime", "localtime_epoch", state, ckpt
        )
        return True

    def _stream(self, i: int) -> None:
        base = os.path.join(self.work, f"stream_{i}")
        root, state, ckpt = (os.path.join(base, d) for d in ("raw", "state", "ckpt"))
        os.makedirs(os.path.join(root, "data"))
        dates = _days(self.stream_start + dt.timedelta(days=i * self.days_per_pass),
                      self.days_per_pass)
        docs = {d: wsrc.synthesize_raw_docs([d]) for d in dates}
        version = None
        self.attempted += 1
        for d in dates:
            with self.clock("trigger"):
                wsrc.write_raw_docs(docs[d], root)
                with self.tracer.span("streaming.trigger"):
                    ran = self.attempt(f"trigger {d}", lambda: self._trigger(root, state, ckpt))
            new = self._version(state)
            if ran and (new is None or new == version):
                self.fail(f"trigger {d}: state did not flip")
            version = new
        # State and checkpoint are fresh per pass: all their files are this pass's.
        self.tracer.output("streaming.trigger", state, ckpt)
        try:
            got = [r.asDict() for r in jobs.read_state(self.spark, state).collect()]
            ok = _rows_ok(got, _latest_rows(dates))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            self.fail(f"stream pass {i}: final state")
        shutil.rmtree(base, ignore_errors=True)

    @staticmethod
    def _version(state: str) -> str | None:
        try:
            with open(os.path.join(state, "_VERSION")) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None


class OperatorMix(Workload):
    """Registry queries of four operation types over synthetic tables."""

    groups = {
        "relational": ["ext_q9_product_profit"],
        "text": ["x2_ngram_jaccard"],
        "python_kernel": ["x3_cosine_topk"],
        "iterative": ["x9_label_propagation"],
    }
    sf = 0.002
    # Pass time keeps falling for about 30 s of passes after the cold one
    # while the JIT compiles the planner and scheduler; the run length
    # leaves room for 15.
    warmup_s = 15.0

    def prepare(self) -> None:
        self.sf_dir = tables.write(self.sf, os.path.join(self.work, "tables"))
        self.group_of = {q: g for g, qs in self.groups.items() for q in qs}
        self.queries = registry.queries()
        self.results: dict[str, object] = {}

    def one_pass(self, i: int) -> None:
        order = sorted(self.group_of)
        self.rng.shuffle(order)
        collect = not self.results  # the first pass keeps rows for the oracle

        def run(name: str) -> None:
            df = self.queries[name](self.spark, self.sf_dir)
            if collect:
                self.results[name] = df.toArrow()
            else:
                df.write.format("noop").mode("overwrite").save()

        for name in order:
            with self.clock(name), self.tracer.span(f"operators.{self.group_of[name]}"):
                self.attempt(name, lambda: run(name))

    def finish(self) -> None:
        """Each query's first result against its DuckDB oracle."""
        import duckdb

        oracle = registry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in os.listdir(self.sf_dir):
                con.execute(
                    f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                    f"SELECT * FROM '{os.path.join(self.sf_dir, t)}'"
                )
            for name in self.group_of:
                got = self.results.get(name)
                if got is None:
                    continue  # already counted as failed
                want = con.execute(oracle[name]).arrow()
                if _multiset(got) != _multiset(want):
                    self.fail(f"{name}: result differs from its DuckDB oracle")
        finally:
            con.close()


def _norm(v) -> str:
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return "␀" if v is None else str(v)


def _multiset(tbl) -> tuple[list[str], list[str]]:
    """Column names and order-insensitive normalized rows of an Arrow table."""
    cols = sorted(tbl.column_names)
    rows = sorted("|".join(_norm(r[c]) for c in cols) for r in tbl.to_pylist())
    return cols, rows


WORKLOADS = {"etl": Etl, "operator_mix": OperatorMix}

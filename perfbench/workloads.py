"""The benchmark's workloads, run one per process by ``run.py``.

    python3 -m perfbench.workloads --workload sql_facade --seed 1 \
        --seconds 10 --trace 0 --work DIR --out result.json \
        --spans spans.json --started "$(date +%s.%N)"

Every run has three phases:

- set-up, repeated ``SETUPS`` times. The first launches the JVM; its end,
  counted from the launcher starting this process, is ``setup_cold_s``.
  The others stop the session and bring a new one up in the same JVM;
  ``setup_s`` is their median;
- a fixed warm-up that runs every operation of a round once, timed as
  ``warmup_s``;
- the measured phase: operations back to back until ``--seconds`` have
  passed and at least a minimum number of rounds (sql_facade) or passes
  (curation_chain) are done.

Every operation runs under its own Spark job group and has its output
checked; a wrong answer or an exception counts as a failed operation.
With ``--trace 1`` each operation is also split into spans
around the calls into the library (session, tables, api.context,
api.dataframe, operators.*, plans.introspect) and into pyspark
(``spark.*``), and Spark's status store is read for the job groups after
the operation ends (outside its timed region). The spans are written to
``--spans`` at the end of the run.
"""

from __future__ import annotations

import argparse
import datetime as dt
import decimal
import json
import math
import os
import random
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import corpus, datagen
from perfbench.trace import SparkStatus, Tracer, catalyst_phases

SETUPS = 4  # one cold set-up, then three in the warm JVM
SQL_SF = 0.01  # scale factor of the sql_facade tables (lineitem = 60k rows)
SQL_MIN_ROUNDS = 1
SQL_DATA_SEED = 42  # the tables are fixed; the run's seed permutes the query order
CURATION_DOCS = 400
CURATION_MIN_PASSES = 1

END_TO_END = {
    "setup_s": "s",
    "setup_cold_s": "s",
    "warmup_s": "s",
    "op_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

EXEC_METRICS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.job_wall_ms",
    "exec.driver_gap_ms",
    "exec.executor_run_ms",
    "exec.executor_cpu_ms",
    "exec.gc_ms",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.output_bytes",
    "exec.python_eval_ms",
)

PER_LAYER = {
    "session.start_s": "s",
    "tables.register_ms": "ms",
    "api.sql_ms": "ms",
    "api.collect_ms": "ms",
    "api.to_arrow_ms": "ms",
    "api.normalize_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "plans.physical_ms": "ms",
    **{m: ("count" if m in ("exec.jobs", "exec.stages", "exec.tasks") else
           "bytes" if m.endswith("_bytes") else "ms") for m in EXEC_METRICS},
    "exec.cached_bytes": "bytes",
    "chain.build_s": "s",
    "chain.exec_s": "s",
    **{f"operators.{s}.build_ms": "ms" for s in corpus.STAGES},
    **{f"operators.{s}.jobs": "count" for s in corpus.STAGES},
    "trace.op_p50_ms": "ms",
    "trace.unattributed_pct": "%",
    "trace.status_read_ms": "ms",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - STARTED:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Workload:
    """Shared bookkeeping: operation counts, job groups, span and
    status-store aggregation for traced runs."""

    def __init__(self, args):
        self.args = args
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.status = None
        self._groups: list[str] = []
        self._group_seq = 0
        # per-layer sums over measured operations (traced runs)
        self.layer: dict[str, float] = defaultdict(float)
        self.traced_ops = 0

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED: {what}")
        return ok

    @contextmanager
    def group(self, label: str):
        """Run the enclosed Spark jobs under a fresh job group."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = sc.getLocalProperty("spark.job.description")
        self._group_seq += 1
        gid = f"perfbench-{self._group_seq}-{label}"
        self._groups.append(gid)
        sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(prev, prev_desc or "")

    def timed_op(self, label: str, fn):
        """Run ``fn`` once under job group ``label``; return (wall s,
        result, exec stats or None). Raises what ``fn`` raises."""
        self._groups = []
        first_exec = self.status.sql_execution_count() if self.status else 0
        with self.group(label):
            with self.tracer.span("op"):
                t0 = time.perf_counter()
                result = fn()
                wall = time.perf_counter() - t0
        stats = None
        if self.status is not None:
            t1 = time.perf_counter()
            stats = defaultdict(float)
            for gid in self._groups:
                for k, v in self.status.group(gid, first_exec).items():
                    stats[k] += v
            stats["exec.driver_gap_ms"] = wall * 1e3 - stats["exec.job_wall_ms"]
            self.layer["trace.status_read_ms"] += (time.perf_counter() - t1) * 1e3
        return wall, result, stats

    def add_traced(self, wall: float, stats: dict, span_metrics: dict) -> None:
        self.traced_ops += 1
        for k, v in {**stats, **span_metrics}.items():
            self.layer[k] += v
        self.layer["_unattributed_s"] += self.tracer.unattributed(self.tracer.last_root("op"))
        self.layer["_wall_s"] += wall

    def setup_metrics(self, ready_after_import: float, setups: list[float]) -> dict[str, float]:
        """``setup_cold_s``: process start to the first ready session
        (interpreter start, library import and the first set-up; the
        benchmark's own input generation is left out). ``setup_s``: the
        median of the set-ups in the warm JVM."""
        return {
            "setup_cold_s": ready_after_import + setups[0],
            "setup_s": statistics.median(setups[1:]),
        }

    def _setup_layers(self, tr: Tracer) -> dict[str, float]:
        # the set-ups in the warm JVM, as for setup_s
        session = [e - s for n, s, e, p in tr.spans if n == "session" and p == -1][1:]
        tables = [e - s for n, s, e, p in tr.spans if n == "tables" and p == -1][1:]
        return {
            "session.start_s": statistics.median(session),
            "tables.register_ms": statistics.median(tables) * 1e3,
        }

    def per_layer(self, fixed: dict[str, float]) -> dict[str, float]:
        n = max(self.traced_ops, 1)
        out = {name: 0.0 for name in PER_LAYER}
        for k, v in self.layer.items():
            if k in out:
                out[k] = v / n
        out.update(fixed)
        if self.traced_ops:
            out["trace.unattributed_pct"] = (
                100.0 * self.layer["_unattributed_s"] / self.layer["_wall_s"]
            )
        return out


# -------------------------------------------------------------------- sql


def _norm(v):
    if isinstance(v, float):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def _rows(table) -> list[tuple]:
    cols = [table.column(i).to_pylist() for i in range(table.num_columns)]
    return [tuple(_norm(c[r]) for c in cols) for r in range(table.num_rows)]


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        # both sides round money to 2 dp; allow one unit of rounding skew
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0101)
    return a == b


def _sort_key(row):
    return tuple((x is None, round(x, 1) if isinstance(x, float) else x) for x in row)


def same_answer(got, want) -> bool:
    """Arrow result vs DuckDB's: same column names and rows, floats
    within rounding skew; row order is compared as returned, then as a
    sorted multiset (ties under ORDER BY may order differently)."""
    if [c.lower() for c in got.column_names] != [c.lower() for c in want.column_names]:
        return False
    if got.num_rows != want.num_rows:
        return False
    g, w = _rows(got), _rows(want)

    def equal(x, y):
        return all(len(a) == len(b) and all(map(_close, a, b)) for a, b in zip(x, y))

    return equal(g, w) or equal(sorted(g, key=_sort_key), sorted(w, key=_sort_key))


class SqlFacade(Workload):
    def run(self) -> dict:
        import duckdb
        import pyarrow as pa
        from pyspark.sql.classic.dataframe import DataFrame as SparkFrame

        from datafusion_python_spark.api.context import SessionContext
        from datafusion_python_spark.plans.introspect import execution_plan
        from datafusion_python_spark.suite_tpch import TPCH_QUERIES

        imported = time.time() - STARTED
        args, tr = self.args, self.tracer
        paths = datagen.generate(os.path.join(args.work, "tables"), SQL_DATA_SEED, SQL_SF)
        queries = {name: sql for name, (_, sql) in TPCH_QUERIES.items()}
        con = duckdb.connect()
        for name, path in paths.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        answers = {name: con.execute(sql).arrow() for name, sql in queries.items()}
        con.close()

        setups = []
        ctx = None
        for _ in range(SETUPS):
            if ctx is not None:
                ctx.spark.stop()
            t0 = time.perf_counter()
            with tr.span("session"):
                ctx = SessionContext()
            with tr.span("tables"):
                for name, path in paths.items():
                    ctx.register_parquet(name, path)
            setups.append(time.perf_counter() - t0)
        self.spark = ctx.spark
        log("setups " + ", ".join(f"{t:.2f}s" for t in setups))
        if args.trace:
            SparkFrame.toArrow = tr.wrap("spark.to_arrow", SparkFrame.toArrow)

        def run_query(name: str) -> float | None:
            def op():
                with tr.span("api.sql"):
                    df = ctx.sql(queries[name])
                if self.status is not None:
                    with tr.span("plans.physical"):
                        execution_plan(df.df)
                with tr.span("api.collect"):
                    batches = df.collect()
                return df, batches

            try:
                wall, (df, batches), stats = self.timed_op(name, op)
            except Exception as ex:  # counted, reported, and the run goes on
                self.check(False, f"{name}: {type(ex).__name__}: {ex}")
                return None
            got = pa.Table.from_batches(batches) if batches else answers[name].slice(0, 0)
            if not self.check(same_answer(got, answers[name]), f"{name}: answer differs"):
                return None
            if stats is not None:
                total, own = tr.tree_times(tr.last_root("op"))
                spans = {
                    "api.sql_ms": total.get("api.sql", 0.0) * 1e3,
                    "plans.physical_ms": total.get("plans.physical", 0.0) * 1e3,
                    "api.collect_ms": total.get("api.collect", 0.0) * 1e3,
                    "api.to_arrow_ms": total.get("spark.to_arrow", 0.0) * 1e3,
                    "api.normalize_ms": own.get("api.collect", 0.0) * 1e3,
                    **catalyst_phases(df.df._jdf),
                }
                self.add_traced(wall, stats, spans)
            return wall

        # warm-up: every query once, in sorted order, checked like the rest
        t0 = time.perf_counter()
        for name in sorted(queries):
            run_query(name)
        warmup = time.perf_counter() - t0
        log(f"warm-up {warmup:.1f}s")
        if args.trace:
            self.status = SparkStatus(self.spark)

        rng = random.Random(args.seed)
        order = sorted(queries)
        lat: dict[str, list[float]] = defaultdict(list)
        rounds = 0
        t0 = time.perf_counter()
        while rounds < SQL_MIN_ROUNDS or time.perf_counter() - t0 < args.seconds:
            rng.shuffle(order)
            for name in order:
                wall = run_query(name)
                if wall is not None:
                    lat[name].append(wall)
            rounds += 1
        measured = time.perf_counter() - t0
        # a query's latency is its median over the measured rounds
        per_query = [statistics.median(v) for v in lat.values()]
        done = sum(len(v) for v in lat.values())
        log(f"{done} queries in {rounds} rounds, {measured:.1f}s")

        e2e = {
            **self.setup_metrics(imported, setups),
            "warmup_s": warmup,
            "op_p50_ms": statistics.median(per_query) * 1e3,
            "throughput_per_s": done / measured,
        }
        fixed = {}
        if args.trace:
            fixed = self._setup_layers(tr)
            fixed["exec.cached_bytes"] = self.status.cached_bytes()
        self.spark.stop()
        return {"end_to_end": e2e, "per_layer": fixed}


# --------------------------------------------------------------- curation


class CurationChain(Workload):
    def run(self) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from datafusion_python_spark.plans.introspect import execution_plan
        from datafusion_python_spark.session import get_spark

        imported = time.time() - STARTED
        args, tr = self.args, self.tracer
        base, n = corpus.base_for_seed(args.seed), CURATION_DOCS
        want = corpus.model(base, n)

        setups = []
        docs = None
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with tr.span("session"):
                self.spark = get_spark("perfbench")
            path = os.path.join(args.work, f"corpus{i}")
            with tr.span("corpus"):
                corpus.generate(self.spark, path, base, n)
            with tr.span("tables"):
                docs = corpus.load(self.spark, path)
            setups.append(time.perf_counter() - t0)
        log("setups " + ", ".join(f"{t:.2f}s" for t in setups))

        def call(stage, fn, *a, **kw):
            if not args.trace:
                return fn(*a, **kw)
            with self.group(stage), tr.span(f"operators.{stage}"):
                return fn(*a, **kw)

        def run_pass():
            """One pass: clear the cache, build every stage, sink the
            packed frame to noop. Returns (wall s, stages, exec stats)
            or None when the pass failed."""
            self.spark.catalog.clearCache()
            sink_rows = Observation("sink")

            def one_pass():
                with tr.span("chain.build"):
                    built = corpus.chain(docs, call)
                with self.group("sink"), tr.span("spark.sink"):
                    built["packed"].observe(sink_rows, F.count(F.lit(1)).alias("rows")).write.format(
                        "noop"
                    ).mode("overwrite").save()
                return built

            try:
                wall, stages, stats = self.timed_op("pass", one_pass)
            except Exception as ex:
                self.check(False, f"pass: {type(ex).__name__}: {ex}")
                return None
            packed = sink_rows.get["rows"]
            if not self.check(packed == want["packed"], f"packed {packed}, model {want['packed']}"):
                return None
            return wall, stages, stats

        # warm-up: one full pass, checked against the model
        t0 = time.perf_counter()
        run_pass()
        warmup = time.perf_counter() - t0
        log(f"warm-up {warmup:.1f}s")
        if args.trace:
            self.status = SparkStatus(self.spark)

        passes: list[float] = []
        stages = None
        t0 = time.perf_counter()
        while len(passes) < CURATION_MIN_PASSES or time.perf_counter() - t0 < args.seconds:
            done = run_pass()
            if done is None:
                break
            wall, stages, stats = done
            passes.append(wall)
            if stats is not None:
                self._trace_pass(wall, stats, stages, execution_plan)

        if stages is not None and args.trace:
            with self.group("check"):
                got = corpus.stage_counts(stages)
                for key, value in want.items():
                    self.check(got[key] == value, f"{key}: got {got[key]}, model {value}")
        if not passes:
            raise RuntimeError("no curation pass completed")
        log(f"{len(passes)} passes, median {statistics.median(passes):.1f}s, model {want}")

        e2e = {
            **self.setup_metrics(imported, setups),
            "warmup_s": warmup,
            "op_p50_ms": statistics.median(passes) * 1e3,
            "throughput_per_s": n / statistics.median(passes),
        }
        fixed = self._setup_layers(tr) if args.trace else {}
        self.spark.stop()
        return {"end_to_end": e2e, "per_layer": fixed}

    def _trace_pass(self, wall, stats, stages, execution_plan) -> None:
        tr = self.tracer
        total, _ = tr.tree_times(tr.last_root("op"))
        spans = {
            "chain.build_s": total.get("chain.build", 0.0),
            "chain.exec_s": total.get("spark.sink", 0.0),
            "exec.cached_bytes": self.status.cached_bytes(),
        }
        for stage in corpus.STAGES:
            spans[f"operators.{stage}.build_ms"] = total.get(f"operators.{stage}", 0.0) * 1e3
        for gid in self._groups:
            label = gid.split("-", 2)[2]
            if label in corpus.STAGES:
                jobs = len(self.spark.sparkContext.statusTracker().getJobIdsForGroup(gid))
                spans[f"operators.{label}.jobs"] = float(jobs)
        # physical planning and Catalyst phases of the final frame, forced
        # after the pass (the noop sink plans its own write command)
        t1 = time.perf_counter()
        execution_plan(stages["packed"])
        spans["plans.physical_ms"] = (time.perf_counter() - t1) * 1e3
        spans.update(catalyst_phases(stages["packed"]._jdf))
        self.add_traced(wall, stats, spans)


WORKLOADS = {"sql_facade": SqlFacade, "curation_chain": CurationChain}


STARTED = 0.0  # wall clock when the launcher started this process; set from --started


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans", required=True, help="where a traced run writes its spans")
    ap.add_argument("--started", type=float, required=True,
                    help="wall-clock time the process was started")
    args = ap.parse_args(argv)
    global STARTED
    STARTED = args.started

    wl = WORKLOADS[args.workload](args)
    res = wl.run()
    if args.trace:
        metrics = wl.per_layer(
            {**res["per_layer"], "trace.op_p50_ms": res["end_to_end"]["op_p50_ms"]}
        )
        units = PER_LAYER
    else:
        metrics, units = res["end_to_end"], END_TO_END
    out = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    log("done")
    if args.trace:
        os.makedirs(os.path.dirname(args.spans), exist_ok=True)
        with open(args.spans, "w") as fh:
            json.dump({"spans": wl.tracer.spans, "per_layer": metrics}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())

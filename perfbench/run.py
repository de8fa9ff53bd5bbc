#!/usr/bin/env python3
"""The repository's per-change benchmark.

    python3 perfbench/run.py --workload scan_shuffle --seed 1 --seconds 6 --trace 0

One process, one Spark session on ``local[N]`` (N = min(4, cores) - 1),
one client in a closed loop: a query is sent only when the previous
one has returned. A query is timed from the call into its
``__spark_entry__.queries()`` function through a terminal ``noop``
write, as ``bench.py`` does. The inputs are the sf0.01 fixture copied
under ``perfbench/fixture``; the seed shuffles the query order of
every timed pass.

A run:

1. sets up once (session, the workload's tables, its ``bench_setup``
   hooks), timed from process start as ``setup_s``;
2. times one cold pass that collects every output (``first_pass_s``);
3. for ``--seconds``, times the ``wordcount`` canary, the reference
   job and then one full pass, repeatedly, and the reference job once
   more at the end;
4. outside the timed passes, compares every query's output with its
   ``oracle_sql()`` result in DuckDB;
5. prints a report line and, last, the result line.

With ``--trace 0`` the result carries the end-to-end metrics: timed
pass and query times relative to the reference job (``*_rel``), the
raw cold-pass and set-up times and the peak memory; the report line
keeps every raw time. With
``--trace 1`` passes alternate traced/untraced (ABBA, so warm-up
drift cancels), and the result carries the per-layer metrics of the
traced passes plus the tracing overhead; the span tree is written to
``.perfbench/spans/``. ``perfbench/README.md`` explains the choices.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # process start, for setup_s

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import urllib.request  # noqa: E402

import layers  # noqa: E402
from layers import Span  # noqa: E402
from workloads import CANARY, WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
STATE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(STATE, "work")
# one core is left to the driver, the JVM's own threads and the Python
# daemon: with every core running tasks, run-to-run spread doubled
CORES = max(1, min(4, os.cpu_count() or 1) - 1)
PKG = "cs537_spring2021_p3a_mapreduce_spark"
MIN_PASSES = 2
# The reference: a word count over the fixture's documents in plain
# SQL, run REFERENCE_REPEATS times per sample. It calls no code of the
# package, so no change to its operators, catalog or tokenisers moves
# it. The box these runs were tuned on drifts in speed by up to 2x
# within minutes; the reference moves with it, and the gated *_rel
# times are timed-pass times divided by its median in the run. It runs
# in the workload's session: the passes are small jobs whose time goes
# to planning, scheduling and shuffles as that session sets them up. A
# bare CPU-bound job (a hash sum over spark.range) moved only 1.4x when
# the passes moved 2x, and a join over lineitem and orders cost ~5 s
# cold on workloads that do not read those tables.
REFERENCE_SQL = (
    "SELECT w, count(*) AS n FROM (SELECT explode(split(lower(text), ' ')) AS w"
    " FROM parquet.`{fixture}/documents.parquet`) GROUP BY w"
)
REFERENCE_REPEATS = 3
# traced / untraced order of measured passes in a traced run
ABBA = (True, False, False, True)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# Process environment
# ---------------------------------------------------------------------------


def prepare_environment() -> None:
    """Keep every file the run writes inside the checkout, and make
    the package importable by the Python workers Spark starts."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp, local, warehouse = (os.path.join(WORK, d) for d in ("tmp", "local", "warehouse"))
    for d in (tmp, local, warehouse):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ.pop("SPARK_MASTER", None)
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": warehouse,
        # the traced run reads every job, stage and SQL execution of
        # the run back from the REST API; set in both modes so the two
        # sessions are configured alike
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }
    # C1 only: on a few cores the C2 compiler threads compete with the
    # tasks for most of a short run and the pass times keep falling for
    # a dozen passes; with C1 alone they are flat after the cold pass.
    # ParallelGC with fixed generation sizes: G1's adaptive sizing moved
    # the JVM's resident memory by ~10% between runs of the same code.
    # The 1 GiB heap is reserved at launch but not pre-touched, so the
    # resident set still follows the heap's real high-water use. Its
    # size is fixed so that collections do not depend on how the heap
    # grew: grown from a small start, the passes of five runs were ~1.7x
    # slower (while the box was also drifting).
    java = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        " -XX:+UseParallelGC -Xms1g -Xmn256m -XX:-UseAdaptiveSizePolicy"
    )
    args = ["--driver-java-options", java]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(pid))
    return kids


def descendants(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


class PeakRss(threading.Thread):
    """Samples the resident memory of this process and all its
    descendants (the JVM and its Python workers) and keeps the peak of
    the sum. Each process counts its proportional set size (PSS), so
    pages shared after a fork count once: the JVM forks helper
    processes (``chmod`` for local file permissions) that show the
    whole JVM as their RSS until they exec."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._halt = threading.Event()

    def sample(self) -> tuple[float, dict[str, float]]:
        parts: dict[str, float] = {}
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    pss_kb = next(int(line.split()[1]) for line in f if line.startswith("Pss:"))
            except (OSError, StopIteration, ValueError):
                continue  # the process ended while being read
            parts[comm] = parts.get(comm, 0.0) + pss_kb / 1024
        return sum(parts.values()), parts

    def run(self) -> None:
        while not self._halt.is_set():
            total, parts = self.sample()
            if total > self.peak_mb:
                self.peak_mb, self.peak_parts = total, parts
            self._halt.wait(self.interval)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak_mb


# ---------------------------------------------------------------------------
# Tracing: wrapped package calls and the streaming listener
# ---------------------------------------------------------------------------

# (module, function, span name): the package calls the traced run
# times from outside, by swapping the function in every namespace
# that holds it.
WRAPPED = (
    (f"{PKG}.catalog", "table", "catalog.table"),
    (f"{PKG}.session", "release_persisted", "session.release"),
    (f"{PKG}.session", "unload_state_providers", "session.release"),
    (f"{PKG}.sources.manifest_sink", "commit_transaction", "sources.commit"),
)


class CallTracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._swapped: list[tuple[object, str, object]] = []

    def _wrap(self, fn, name):
        spans = self.spans

        def traced(*args, **kwargs):
            start = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.append(Span(name, start, time.time()))

        return traced

    def install(self) -> None:
        modules = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) or n == "__spark_entry__"]
        for modname, attr, name in WRAPPED:
            orig = getattr(importlib.import_module(modname), attr)
            traced = self._wrap(orig, name)
            for m in modules:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        setattr(m, k, traced)
                        self._swapped.append((m, k, orig))

    def uninstall(self) -> None:
        while self._swapped:
            m, k, orig = self._swapped.pop()
            setattr(m, k, orig)


def progress_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.events: list[dict] = []

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            self.events.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return ProgressLog()


class Rest:
    """The Spark UI's REST API of the running application."""

    def __init__(self, sc) -> None:
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)


# ---------------------------------------------------------------------------
# The closed loop
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []  # failed checks other than oracle mismatches
        self.notes: list[str] = []
        self.tracer = CallTracer() if trace else None

    # -- set-up ------------------------------------------------------------

    def set_up(self) -> float:
        """Build the session and the workload's one-time state: its
        tables and its queries' ``bench_setup`` hooks. Returns the
        seconds since process start, JVM launch included."""
        from cs537_spring2021_p3a_mapreduce_spark.catalog import table
        from cs537_spring2021_p3a_mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        for t in self.wl.tables:
            table(self.spark, FIXTURE, t)
        for q in self.wl.queries:
            hook = getattr(self.queries[q], "bench_setup", None)
            if hook is not None:
                hook(self.spark, FIXTURE)
        return time.perf_counter() - _T0

    # -- one query / one pass ----------------------------------------------

    def run_query(self, name: str, group: str | None, collect: bool = False):
        """Run one query to its terminal action: a ``noop`` write, or
        with ``collect`` a ``toPandas()``. Returns (start, called, end,
        output) with epoch times, or None if the query raised."""
        sc = self.spark.sparkContext
        self.attempted += 1
        if group is not None:
            sc.setJobGroup(group, name)
        try:
            start = time.time()
            df = self.queries[name](self.spark, FIXTURE)
            called = time.time()
            if collect:
                output = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
                output = None
            end = time.time()
        except Exception:  # a failing query is counted, the run goes on
            self.failed += 1
            log(f"query {name} raised:\n{traceback.format_exc(limit=3)}")
            return None
        finally:
            if group is not None:
                sc._jsc.clearJobGroup()
            self.spark.catalog.clearCache()
        return start, called, end, output

    def run_pass(self, traced: bool, tag: str, collect: bool = False):
        """One pass over the workload in a seed-shuffled order, except
        the cold pass (``collect``): its first query pays for the JVM's
        warm-up, and a shuffled order moved ``first_pass_s`` by up to 30%
        between seeds, so it keeps the listed order. Returns (wall
        seconds, [(query, latency)], pass span, {query: output})."""
        order = list(self.wl.queries)
        if not collect:
            self.rng.shuffle(order)
        if traced:
            self.tracer.install()
        lat, outputs = [], {}
        pass_span = Span(f"pass:{tag}", time.time(), 0.0)
        t0 = time.perf_counter()
        try:
            for name in order:
                group = f"query:{name}#{tag}" if traced else None
                r = self.run_query(name, group, collect)
                if r is None:
                    continue
                start, called, end, outputs[name] = r
                lat.append((name, end - start))
                q = Span(f"query:{name}", start, end, group=group)
                q.children = [Span("call", start, called), Span("action", called, end)]
                pass_span.children.append(q)
        finally:
            wall = time.perf_counter() - t0
            pass_span.end = time.time()
            if traced:
                self.tracer.uninstall()
        return wall, lat, pass_span, outputs

    def canary(self) -> float | None:
        r = self.run_query(CANARY, None)
        return None if r is None else r[2] - r[0]

    def reference(self, repeats: int = REFERENCE_REPEATS) -> float:
        start = time.perf_counter()
        for _ in range(repeats):
            self.spark.sql(REFERENCE_SQL.format(fixture=FIXTURE)).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - start

    # -- correctness ---------------------------------------------------------

    def check(self, outputs: dict) -> tuple[int, int]:
        """Compare the collected output of every workload query with
        its DuckDB oracle on the same fixture, by the exact rules of
        ``tools/check_oracles.py``. Returns (checked, wrong)."""
        import check_oracles

        con = check_oracles.duck_con(FIXTURE)
        con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb')}'")
        wrong = 0
        for name, got in outputs.items():
            problems = check_oracles.compare(name, got, con.execute(self.oracles[name]).fetchdf())
            if problems:
                wrong += 1
                log(f"WRONG {name}: {problems}")
        con.close()
        return len(outputs), wrong

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [q for q in (*self.wl.queries, CANARY) if q not in self.queries or q not in self.oracles]
        if missing:
            raise SystemExit(f"queries without an entry or oracle: {missing}")

        rss = PeakRss()
        rss.start()
        setup_s = self.set_up()
        sc = self.spark.sparkContext
        listener = None
        if self.trace:
            listener = progress_listener()
            self.spark.streams.addListener(listener)

        # the cold pass collects every output for the oracle check
        first_wall, _, first_span, outputs = self.run_pass(self.trace, "first", collect=True)
        canaries, refs, walls, lat, spans = [], [], [], [], []
        # untimed: the reference's first run compiles its code (~2.5 s)
        self.reference(repeats=1)
        window = time.perf_counter()
        # a traced run completes the ABBA block so warm-up drift cancels
        min_passes = len(ABBA) if self.trace else MIN_PASSES
        while time.perf_counter() - window < self.seconds or len(walls) < min_passes:
            if len(walls) == MIN_PASSES:
                # the peak covers a fixed amount of work: the old
                # generation grows with every pass, and a faster run
                # fits more passes in the window
                peak_mb = rss.stop()
            c = self.canary()
            if c is not None:
                canaries.append(c)
            refs.append(self.reference())
            traced = self.trace and ABBA[len(walls) % len(ABBA)]
            wall, pass_lat, span, _ = self.run_pass(traced, str(len(walls)))
            walls.append((wall, traced))
            lat.extend(pass_lat)
            if traced:
                spans.append(span)
        if rss.is_alive():
            peak_mb = rss.stop()
        refs.append(self.reference())
        by_query: dict[str, list[float]] = {}
        for name, t in lat:
            by_query.setdefault(name, []).append(t)
        lat = [t for _, t in lat]

        checked, wrong = self.check(outputs)
        if self.trace:
            layer_metrics = self.layer_metrics(
                Rest(sc), listener, first_span, spans,
                [w for w, t in walls if t], [w for w, t in walls if not t], canaries, refs,
            )
        out = {
            "workload": self.name,
            "seed": self.seed,
            "cores": CORES,
            "fixture": "perfbench/fixture/sf0.01",
            "queries": list(self.wl.queries),
            "passes": len(walls),
            "pass_walls_s": [w for w, _ in walls],
            "peak_rss_by_process_mb": rss.peak_parts,
            "first_pass_queries_s": {q.name[6:]: q.duration for q in first_span.children},
            "query_medians_s": {q: layers.median(ts) for q, ts in by_query.items()},
            "attempted": self.attempted,
            "failed": self.failed,
            "checked": checked,
            "wrong": wrong,
            "failed_ratio": self.failed / self.attempted,
            "wrong_ratio": wrong / checked if checked else 1.0,
            "problems": self.problems,
            "notes": self.notes,
            # a drift diagnostic, not a gate: when it moves with
            # everything else, the machine moved, not the code
            "canary.wordcount_s": layers.median(canaries),
            "canary_runs_s": canaries,
            "reference_s": layers.median(refs),
            "reference_runs_s": refs,
        }
        if self.trace:
            out["layers"] = layer_metrics
        else:
            tail, pct, n = layers.tail(lat) if lat else (0.0, 100.0, 0)
            out.update(
                wall_s=layers.median([w for w, _ in walls]),
                first_pass_s=first_wall,
                query_p50_s=layers.median(lat),
                query_tail_s=tail,
                query_tail_percentile=pct,
                query_samples=n,
                setup_s=setup_s,
                peak_rss_mb=peak_mb,
            )
            # the cold pass stays raw: the reference, timed after it,
            # does not see the box's speed during it
            for k in ("wall", "query_p50"):
                out[f"{k}_rel"] = out[f"{k}_s"] / out["reference_s"]
        return out

    # -- per-layer metrics -----------------------------------------------------

    def layer_metrics(self, rest, listener, first_span, spans, traced_walls, plain_walls, canaries, refs) -> dict:
        # progress events arrive asynchronously; wait until they settle
        seen = -1
        while seen != len(listener.events):
            seen = len(listener.events)
            time.sleep(0.5)
        jobs = rest.get("jobs")
        stages = rest.get("stages")
        sql = rest.get("sql?details=true&planDescription=false&offset=0&length=100000")
        events = list(listener.events)

        # span tree: pass -> query -> call/action -> jobs, batches, wrapped calls
        children = layers.job_spans(jobs)
        children += [layers.progress_span(p) for p in events]
        children += self.tracer.spans
        for child in sorted(children, key=lambda s: s.start):
            layers.attach([first_span, *spans], child)

        n = len(spans)
        per_pass = lambda total: total / n  # noqa: E731
        queries = [q for p in spans for q in p.children]
        calls = [c for q in queries for c in q.children if c.name == "call"]
        actions = [c for q in queries for c in q.children if c.name == "action"]
        wrapped = lambda name, ss: [c for c in ss if c.name == name]  # noqa: E731
        in_passes = lambda t: any(p.start <= t <= p.end for p in spans)  # noqa: E731

        spark_tot: dict[str, float] = {}
        skews = []
        for q in queries:
            for k, v in layers.stage_totals(jobs, stages, q.group).items():
                spark_tot[k] = spark_tot.get(k, 0.0) + v
            st = layers.longest_stage(jobs, stages, q.group)
            if st is not None:
                summary = rest.get(
                    f"stages/{st['stageId']}/{st['attemptId']}/taskSummary?quantiles=0.5,1.0"
                )
                skews.append(layers.skew(summary))
        py = layers.python_totals([e for e in sql if in_passes(layers.rest_time(e["submissionTime"]))])
        prog = [p for p in events if in_passes(layers.progress_time(p))]
        st = layers.streaming_totals(prog)

        # every stream drain must show its batches in the listener: its
        # micro-batch jobs carry the stream's runId as job group, not
        # the query's, so the job group cannot attribute them
        for q in queries:
            if q.name.startswith("query:stream_"):
                if not any(c.name.startswith("batch:") for c in layers.walk(q)):
                    self.problems.append(f"{q.name}: no stream batch reached the listener")
        runs = {p.get("runId") for p in prog}
        stream_jobs = sum(1 for j in jobs if j.get("jobGroup") in runs)
        self.notes.append(
            f"streaming layer read from the listener: {len(prog)} batches; "
            f"{stream_jobs} micro-batch jobs carried their stream's runId as job "
            "group, not the query's, so the spark.* job-group totals exclude them"
        )
        log(self.notes[-1])

        tw, pw = layers.median(traced_walls), layers.median(plain_walls)
        first_calls = [s for s in self.tracer.spans if s.name == "catalog.table"
                       and first_span.start <= s.start <= first_span.end]
        call_s = per_pass(sum(c.duration for c in calls))
        m = {
            "canary.wordcount_s": (layers.median(canaries), "s"),
            "reference_s": (layers.median(refs), "s"),
            "trace.wall_s": (tw, "s"),
            "trace.untraced_wall_s": (pw, "s"),
            "trace.overhead_s": (tw - pw, "s"),
            "operators.call_s": (call_s, "s"),
            "operators.action_s": (per_pass(sum(c.duration for c in actions)), "s"),
            "operators.call_self_s": (per_pass(sum(layers.self_time(c) for c in calls)), "s"),
            "operators.action_self_s": (per_pass(sum(layers.self_time(c) for c in actions)), "s"),
            "operators.call_share": (call_s / tw if tw else 0.0, "ratio"),
        }
        units = {"jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count"}
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "failed_tasks"):
            m[f"spark.{k}"] = (per_pass(spark_tot.get(k, 0.0)), units.get(k, "MiB" if k.endswith("_mb") else "s"))
        m["spark.task_skew"] = (layers.median(skews), "ratio")
        for k, v in py.items():
            m[f"python.{k}"] = (per_pass(v), "MiB" if k.endswith("_mb") else "s")
        for k, v in st.items():
            unit = {"batches": "count", "input_rows": "count", "state_rows": "count",
                    "state_mb": "MiB", "empty_batch_ratio": "ratio"}.get(k, "s")
            m[f"streaming.{k}"] = (v if k == "empty_batch_ratio" else per_pass(v), unit)
        spans_in = [s for s in self.tracer.spans if in_passes(s.start)]
        m["sources.commits"] = (per_pass(len(wrapped("sources.commit", spans_in))), "count")
        m["sources.commit_s"] = (per_pass(sum(s.duration for s in wrapped("sources.commit", spans_in))), "s")
        m["session.release_s"] = (per_pass(sum(s.duration for s in wrapped("session.release", spans_in))), "s")
        m["catalog.table_s"] = (per_pass(sum(s.duration for s in wrapped("catalog.table", spans_in))), "s")
        m["catalog.first_pass_table_s"] = (sum(s.duration for s in first_calls), "s")

        os.makedirs(os.path.join(STATE, "spans"), exist_ok=True)
        path = os.path.join(STATE, "spans", f"{self.name}-seed{self.seed}.json")
        with open(path, "w") as f:
            json.dump([span_json(s) for s in [first_span, *spans]], f)
        log(f"span tree written to {os.path.relpath(path, ROOT)}")
        return m

    def close(self) -> None:
        stop_spark(getattr(self, "spark", None))


def span_json(s: Span) -> dict:
    return {
        "name": s.name, "start": s.start, "end": s.end,
        "self_s": layers.self_time(s),
        "children": [span_json(c) for c in s.children],
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process it started,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    procs = [p for p in descendants(os.getpid()) if p != os.getpid()]
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 15
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# Output
# ---------------------------------------------------------------------------

# query_tail_s stays in the report only: a run holds 4 to 24 query
# samples, so no percentile above the median has ten samples beyond it
END_TO_END = {
    "wall_rel": "ref",
    "first_pass_s": "s",
    "query_p50_rel": "ref",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
}


def result_lines(out: dict, trace: bool) -> tuple[str, str]:
    if trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in out.pop("layers").items()}
    else:
        metrics = {k: {"value": out[k], "unit": u} for k, u in END_TO_END.items()}
    correct = out["wrong"] == 0 and out["checked"] == len(out["queries"]) and not out["problems"]
    report = dict(out, metrics=metrics)
    result = {
        "correct": correct,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }
    return json.dumps(report), json.dumps(result)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # JVM and library chatter inherit fd 1; keep the real stdout for
    # the two result lines only
    real_stdout = os.dup(1)
    os.dup2(2, 1)
    prepare_environment()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        out = bench.run()
    finally:
        bench.close()
    report, result = result_lines(out, bool(args.trace))
    os.write(real_stdout, f"{report}\n{result}\n".encode())
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

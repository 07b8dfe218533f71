"""The traced run: job groups, layer spans and the Spark event log.

Nothing here touches the package. Layer spans come from wrapping the
layers' public functions (module attributes and ``StateCatalog`` /
``DataFrame`` methods) from this file, for the life of one traced run.
Every op and every layer call runs under its own Spark job group, so
each job in the event log names the op, and the layer, that launched it.
Spans stay in memory; the event log is parsed once, after the session
has stopped writing it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# Stage scopes that run Python worker code: the Python data source scan
# and the Arrow/pandas UDF operators.
PYTHON_SCOPES = ("BatchScan rest_eav", "ArrowEvalPython", "BatchEvalPython", "Pandas", "PythonUDTF")
REST_SCAN = "BatchScan rest_eav"


@contextmanager
def op_span(tracer: "Tracer | None", k: int, timed: bool):
    """Run one op under job group ``op<k>``; a no-op when untraced."""
    if tracer is None:
        yield
        return
    with tracer.op(k, timed):
        yield


class Tracer:
    def __init__(self, log_dir: str):
        self.log_dir = log_dir
        self.spans: list[tuple[int, str, float, float]] = []  # (op, layer, t0, t1)
        self.counts: dict[tuple[int, str], float] = {}
        self.cc_rounds: list[tuple[int | None, int]] = []  # (op, rounds)
        self.held_mb: list[tuple[int | None, float]] = []  # (op, MB)
        self.current_op: int | None = None
        self.depth = 0  # nesting of counted actions
        self.sc = None
        self._restore: list[tuple[object, str, object]] = []

    def spark_conf(self) -> dict[str, str]:
        # Uncompressed and non-rolling: one plain JSON-lines file.
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }

    # -- spans ---------------------------------------------------------

    def count(self, name: str) -> None:
        if self.current_op is not None:
            key = (self.current_op, name)
            self.counts[key] = self.counts.get(key, 0) + 1

    @contextmanager
    def op(self, k: int, timed: bool):
        self.current_op = k
        self.sc.setJobGroup(f"op{k}", "timed" if timed else "warmup")
        try:
            yield
        finally:
            self.sc.setJobGroup("bench", "outside ops")
            self.current_op = None

    @contextmanager
    def span(self, layer: str):
        if self.current_op is None:
            yield
            return
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(f"op{self.current_op}|{layer}", layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.current_op, layer, t0, time.perf_counter()))
            self.sc.setJobGroup(prev, "op")

    def _wrap(self, owner, attr: str, layer: str | None, after=None, action=False):
        """Replace ``owner.attr`` with a wrapper that runs it inside a
        ``layer`` span (none when ``layer`` is None), calls ``after`` on
        the result, and with ``action`` counts outermost actions."""
        fn = getattr(owner, attr)
        tracer = self

        def wrapper(*a, **kw):
            if action:
                tracer.depth += 1
                if tracer.depth == 1:
                    tracer.count("cli.actions")
            try:
                if layer is None:
                    return fn(*a, **kw)
                with tracer.span(layer):
                    out = fn(*a, **kw)
                if after:
                    after(out)
                return out
            finally:
                if action:
                    tracer.depth -= 1

        wrapper.__wrapped__ = fn
        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, fn))

    def install(self, spark, wl) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from redcap_omop_etl_spark import caching, cli, state
        from redcap_omop_etl_spark.operators import graph

        self.sc = spark.sparkContext
        self.sc.setJobGroup("bench", "outside ops")
        # operators.redcap / cli: the plan build and every action issued
        self._wrap(cli, "redcap_pipeline", "operators.redcap.plan")
        for attr in ("count", "collect", "first", "take", "toPandas"):
            self._wrap(DataFrame, attr, None, action=True)
        # sinks.chunked: the envelope write the CLI issues
        self._wrap(DataFrameWriter, "text", "sinks.chunked.write", action=True)
        self._wrap(DataFrameWriter, "parquet", None, action=True)
        # state: catalog I/O and the tick
        self._wrap(state.StateCatalog, "load", "state.load")
        self._wrap(state.StateCatalog, "save", "state.save")
        self._wrap(state, "cluster_state_tick", "state.cluster_tick")
        # operators.graph: every connected_components call (state.py and
        # the transitions resolve it through the module at call time)
        self._wrap(
            graph,
            "connected_components",
            "graph.cc",
            after=lambda _out: self.cc_rounds.append((self.current_op, graph.CC_LAST_ROUNDS or 0)),
        )
        # caching: materializations by operators and the catalog
        for attr in ("cache", "persist", "localCheckpoint"):
            self._wrap(
                DataFrame, attr, "caching.materialize", after=lambda _o: self.count("caching.materializations")
            )
        self._wrap(caching, "unpersist_operator_caches", "caching.release", after=self._held)
        self._wrap(caching, "clear_session_memos", "caching.release", after=self._held)

    def _held(self, _out) -> None:
        """Block-manager storage still held right after a release."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        held = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
        self.held_mb.append((self.current_op, held))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # -- results -------------------------------------------------------

    def span_totals(self) -> dict[int, dict[str, float]]:
        """Seconds per layer per op (nested spans count in each layer)."""
        out: dict[int, dict[str, float]] = {}
        for k, layer, t0, t1 in self.spans:
            d = out.setdefault(k, {})
            d[layer] = round(d.get(layer, 0.0) + t1 - t0, 3)
        return out

    def collect(self, wl, timed: list[int], walls: list[float], written: list[int]) -> dict:
        """Per-layer metrics over the timed ops: medians of per-op values.
        Call after the session has stopped, so the event log is whole."""
        ops = set(timed)
        wall = dict(zip(timed, walls))
        state_mb = dict(zip(timed, written)) if hasattr(wl, "catalog") else {}

        def per_op(fn) -> float:
            vals = [fn(k) for k in timed]
            return float(statistics.median(vals)) if vals else 0.0

        def span_s(layer: str):
            return lambda k: sum(t1 - t0 for o, n, t0, t1 in self.spans if o == k and n == layer)

        def span_n(layer: str):
            return lambda k: sum(1 for o, n, _a, _b in self.spans if o == k and n == layer)

        def cnt(name: str):
            return lambda k: self.counts.get((k, name), 0)

        def timed_median(pairs) -> float:
            vals = [v for k, v in pairs if k in ops]
            return float(statistics.median(vals)) if vals else 0.0

        return {
            **self._spark_layers(ops, wall, per_op),
            "operators.redcap.plan_s_per_op": (per_op(span_s("operators.redcap.plan")), "s"),
            "cli.actions_per_op": (per_op(cnt("cli.actions")), "count"),
            "sinks.chunked.write_s_per_op": (per_op(span_s("sinks.chunked.write")), "s"),
            "sinks.chunked.envelopes_per_op": (
                per_op(lambda k: wl.envelopes(k) if hasattr(wl, "envelopes") else 0),
                "count",
            ),
            "state.load_s_per_tick": (per_op(span_s("state.load")), "s"),
            "state.save_s_per_tick": (per_op(span_s("state.save")), "s"),
            "state.written_mb_per_tick": (per_op(lambda k: state_mb.get(k, 0) / 1e6), "MB"),
            "state.cluster_tick_s": (per_op(span_s("state.cluster_tick")), "s"),
            "graph.cc_calls_per_tick": (per_op(span_n("graph.cc")), "count"),
            "graph.cc_s_per_tick": (per_op(span_s("graph.cc")), "s"),
            "graph.cc_rounds": (timed_median(self.cc_rounds), "count"),
            "caching.materializations_per_op": (per_op(cnt("caching.materializations")), "count"),
            "caching.materialize_s_per_op": (per_op(span_s("caching.materialize")), "s"),
            "caching.release_s_per_op": (per_op(span_s("caching.release")), "s"),
            "caching.held_mb_after_release": (timed_median(self.held_mb), "MB"),
        }

    def _spark_layers(self, ops: set[int], wall: dict[int, float], per_op) -> dict:
        """Parse the event log into per-op engine figures."""
        files = [os.path.join(self.log_dir, f) for f in os.listdir(self.log_dir)]
        job_op: dict[int, int] = {}
        job_span: dict[int, list[float]] = {}
        stage_op: dict[int, int] = {}
        stage_scopes: dict[int, set[str]] = {}
        stage_tasks: dict[int, int] = {}
        task_rows: list[tuple[int, float, float, float]] = []  # stage, run_s, shuffle_b, input_b
        for path in files:
            with open(path) as fh:
                for line in fh:
                    head = line[:48]
                    if "SparkListenerJobStart" in head:
                        e = json.loads(line)
                        gid = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                        if not gid.startswith("op"):
                            continue
                        k = int(gid[2:].split("|", 1)[0])
                        if k not in ops:
                            continue
                        job_op[e["Job ID"]] = k
                        job_span[e["Job ID"]] = [e["Submission Time"] / 1e3, e["Submission Time"] / 1e3]
                        for sid in e["Stage IDs"]:
                            stage_op[sid] = k
                    elif "SparkListenerJobEnd" in head:
                        e = json.loads(line)
                        if e["Job ID"] in job_span:
                            job_span[e["Job ID"]][1] = e["Completion Time"] / 1e3
                    elif "SparkListenerStageCompleted" in head:
                        e = json.loads(line)
                        si = e["Stage Info"]
                        if si["Stage ID"] not in stage_op:
                            continue
                        stage_tasks[si["Stage ID"]] = si["Number of Tasks"]
                        stage_scopes[si["Stage ID"]] = {
                            json.loads(r["Scope"])["name"] for r in si["RDD Info"] if "Scope" in r
                        }
                    elif "SparkListenerTaskEnd" in head:
                        e = json.loads(line)
                        if e["Stage ID"] not in stage_op:
                            continue
                        m = e.get("Task Metrics") or {}
                        task_rows.append(
                            (
                                e["Stage ID"],
                                m.get("Executor Run Time", 0) / 1e3,
                                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                                (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            )
                        )

        def is_python(sid: int) -> bool:
            return any(p in s for s in stage_scopes.get(sid, ()) for p in PYTHON_SCOPES)

        def is_scan(sid: int) -> bool:
            return REST_SCAN in stage_scopes.get(sid, ())

        def jobs(k):
            return [j for j, o in job_op.items() if o == k]

        def stages(k, pred=lambda s: True):
            return [s for s in stage_tasks if stage_op[s] == k and pred(s)]

        def tasks(k, pred=lambda s: True, col=None):
            rows = [r for r in task_rows if stage_op[r[0]] == k and pred(r[0])]
            return len(rows) if col is None else sum(r[col] for r in rows)

        def exec_s(k) -> float:
            spans = sorted(job_span[j] for j in jobs(k))
            total, end = 0.0, None
            for a, b in spans:
                if end is None or a > end:
                    total += b - a
                    end = b
                elif b > end:
                    total += b - end
                    end = b
            return total

        def scan_parts(k) -> float:
            parts = [stage_tasks[s] for s in stages(k, is_scan)]
            return float(statistics.median(parts)) if parts else 0.0

        self.per_op = {
            k: {"wall_s": round(wall[k], 3), "jobs": len(jobs(k)), "exec_s": round(exec_s(k), 3)}
            for k in sorted(ops)
        }
        return {
            "spark.jobs_per_op": (per_op(lambda k: len(jobs(k))), "count"),
            "spark.stages_per_op": (per_op(lambda k: len(stages(k))), "count"),
            "spark.tasks_per_op": (per_op(lambda k: tasks(k)), "count"),
            "spark.exec_s_per_op": (per_op(exec_s), "s"),
            "spark.driver_gap_s_per_op": (per_op(lambda k: wall[k] - exec_s(k)), "s"),
            "spark.shuffle_mb_per_op": (per_op(lambda k: tasks(k, col=2) / 1e6), "MB"),
            "spark.input_mb_per_op": (per_op(lambda k: tasks(k, col=3) / 1e6), "MB"),
            "spark.python_task_s_per_op": (per_op(lambda k: tasks(k, is_python, 1)), "s"),
            "sources.rest_source.partitions_per_op": (per_op(scan_parts), "count"),
            "sources.rest_source.scans_per_op": (per_op(lambda k: len(stages(k, is_scan))), "count"),
            "sources.rest_source.scan_task_s_per_op": (per_op(lambda k: tasks(k, is_scan, 1)), "s"),
        }

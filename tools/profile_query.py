"""Profiling harness: run one or more registered queries with Spark event
logging enabled and report per-job / per-stage wall breakdown, so bench
walls can be attributed to stages (shuffle-heavy? job-count-heavy?
single long stage?) without the live UI.

Usage:
    python tools/profile_query.py <query> [query ...]     # sf0.1 default
    SPARK_GRAFT_SF_DIR=... python tools/profile_query.py <query>

Protocol mirrors bench.py (warm pass, cache reset, timed noop write) so
numbers are comparable. Event logs land in a temp dir and are parsed
after each timed run; per-stage rows show wall, task count, shuffle
read/write bytes and the first line of the stage's callsite. The
per-query header also counts jobs excluding broadcast-exchange jobs
(asynchronous ``$anonfun$withThreadLocalCaptured`` jobs whose last stage
is a result stage), which move the raw count by ±1 between runs of the
same code; compare job counts on that figure. The timed pass also
counts py4j round trips (every Python-to-JVM call goes through
``ClientServerConnection.send_command``) and the seconds spent inside
them, and reports the driver seconds: the part of the timed wall in
which no Spark job of the query was running (planning, Python
orchestration, result handling).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from redcap_omop_etl_spark import workload
from redcap_omop_etl_spark.caching import clear_session_memos, unpersist_operator_caches
from redcap_omop_etl_spark.session import build_session


class Py4jCounter:
    """Counts py4j round trips, and the seconds spent in them, while
    active (wraps ``ClientServerConnection.send_command``)."""

    def __init__(self) -> None:
        self.calls = 0
        self.seconds = 0.0

    def __enter__(self) -> "Py4jCounter":
        from py4j.clientserver import ClientServerConnection

        self._orig = orig = ClientServerConnection.send_command

        def counted(conn, command):
            t = time.perf_counter()
            try:
                return orig(conn, command)
            finally:
                self.calls += 1
                self.seconds += time.perf_counter() - t

        ClientServerConnection.send_command = counted
        return self

    def __exit__(self, *exc) -> None:
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._orig


def job_free_seconds(jobs: dict, jids: list[int], t0_ms: float, t1_ms: float) -> float:
    """Seconds of the window [t0_ms, t1_ms] in which none of ``jids``
    was running."""
    busy, end = 0.0, t0_ms
    for a, b in sorted((jobs[j]["t0"], jobs[j].get("t1", jobs[j]["t0"])) for j in jids):
        a, b = max(a, end), min(b, t1_ms)
        if b > a:
            busy += b - a
            end = b
    return max(0.0, (t1_ms - t0_ms) - busy) / 1e3


def parse_eventlog(path: str) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    task_types: dict[int, str] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "t0": ev["Submission Time"],
                    "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    "desc": (ev.get("Properties") or {}).get(
                        "spark.job.description", ""
                    ),
                    "async": any(
                        s.get("Stage Name", "").startswith("$anonfun$withThreadLocalCaptured")
                        for s in ev.get("Stage Infos", [])
                    ),
                }
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
            elif e == "SparkListenerTaskEnd":
                task_types.setdefault(ev["Stage ID"], ev.get("Task Type"))
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                if "Submission Time" not in si:
                    continue
                stages[si["Stage ID"]] = {
                    "wall": (si["Completion Time"] - si["Submission Time"]) / 1e3,
                    "tasks": si["Number of Tasks"],
                    "name": si["Stage Name"].split("\n")[0],
                    "sr": sum(
                        a["Value"]
                        for a in si.get("Accumulables", [])
                        if a.get("Name") == "internal.metrics.shuffle.read.remoteBytesRead"
                    ),
                    "sw": sum(
                        a["Value"]
                        for a in si.get("Accumulables", [])
                        if a.get("Name") == "internal.metrics.shuffle.write.bytesWritten"
                    ),
                }
    # A broadcast exchange collects its child on a background thread: an
    # asynchronous job (callsite withThreadLocalCaptured, which AQE's
    # shuffle-stage jobs share) whose last stage returns rows to the
    # driver (ResultTask) instead of writing shuffle files. Where such a
    # job lands relative to the window mark varies from run to run.
    for j in jobs.values():
        last = max(j["stages"], default=None)
        j["bcast"] = j.pop("async") and task_types.get(last) == "ResultTask"
    return {"jobs": jobs, "stages": stages}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    evdir = tempfile.mkdtemp(prefix="spark-events-")
    spark = build_session(
        "profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    qs = workload.queries()
    names = [n for n in sys.argv[1:] if n in qs]
    unknown = [n for n in sys.argv[1:] if n not in qs]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
    windows: dict[str, tuple[float, float]] = {}
    for name in names:
        unpersist_operator_caches()
        clear_session_memos()
        spark.catalog.clearCache()
        try:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001
            print(f"warm {name} failed: {exc}", file=sys.stderr)
        # honest protocol (bench.py round-13): reset again between warm and
        # timed so memo/cache builds are paid inside the timed window
        unpersist_operator_caches()
        clear_session_memos()
        spark.catalog.clearCache()
        # mark the timed window in the event stream with a sentinel job
        spark.sparkContext.setJobDescription(f"__mark__{name}")
        spark.range(1).write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(name)
        t0, epoch0 = time.perf_counter(), time.time()
        with Py4jCounter() as py4j:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        windows[name] = (epoch0 * 1e3, epoch0 * 1e3 + wall * 1e3)
        spark.sparkContext.setJobDescription(None)
        print(
            f"\n=== {name}: {wall:.3f}s, {py4j.calls} py4j round trips "
            f"({py4j.seconds:.3f}s in them) ==="
        )
    # flush the event log by stopping the session, then parse
    app_id = spark.sparkContext.applicationId
    spark.stop()
    log = os.path.join(evdir, app_id)
    if not os.path.exists(log) or os.path.isdir(log):
        cands = [
            os.path.join(evdir, f)
            for f in os.listdir(evdir)
            if os.path.isfile(os.path.join(evdir, f))
        ]
        log = max(cands, key=os.path.getmtime)
    data = parse_eventlog(log)
    jobs, stages = data["jobs"], data["stages"]
    # split jobs into per-query segments at the sentinel marks
    order = sorted(jobs)
    seg = None
    segs: dict[str, list[int]] = {}
    for jid in order:
        d = jobs[jid].get("desc", "")
        if d.startswith("__mark__"):
            seg = d[len("__mark__"):]
            segs.setdefault(seg, [])
            continue
        if seg is not None:
            segs.setdefault(seg, []).append(jid)
    for name, jids in segs.items():
        jids = [j for j in jids if jobs[j].get("desc") == name]
        n_bcast = sum(jobs[j]["bcast"] for j in jids)
        print(
            f"\n##### {name}: {len(jids)} jobs in timed window, "
            f"{len(jids) - n_bcast} excluding {n_bcast} broadcast-exchange jobs"
        )
        prev_end = None
        gap_total = 0.0
        for jid in jids:
            j = jobs[jid]
            jwall = (j.get("t1", j["t0"]) - j["t0"]) / 1e3
            # driver-side gap since the previous job's end: planning,
            # Python orchestration, collect post-processing — the time no
            # stage accounts for
            if prev_end is not None:
                gap = (j["t0"] - prev_end) / 1e3
                if gap > 0:
                    gap_total += gap
                if gap > 0.05:
                    print(f"  -- gap {gap:7.3f}s before job {jid}")
            prev_end = j.get("t1", j["t0"])
            done = [s for s in j["stages"] if s in stages]
            print(f"  job {jid}: {jwall:7.3f}s  ({len(j['stages'])} stages, {len(done)} ran)")
            for sid in sorted(done):
                s = stages[sid]
                print(
                    f"    stage {sid:4d}: {s['wall']:7.3f}s {s['tasks']:4d} tasks "
                    f"sw={s['sw']/1e6:8.2f}MB  {s['name'][:80]}"
                )
        print(f"  ## inter-job gap total: {gap_total:.3f}s")
        if name in windows:
            print(f"  ## driver seconds (no job running): {job_free_seconds(jobs, jids, *windows[name]):.3f}s")


if __name__ == "__main__":
    main()

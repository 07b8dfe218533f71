"""Closed-loop, single-client benchmark of redcap_omop_etl_spark.

Run from the repository root:

    python3 perfbench/run.py --workload redcap_etl --seed 1 --seconds 20 --trace 0

One run builds a Spark session, generates the workload's inputs from
``--seed``, sets up and warms up, then runs operations of identical shape
back to back for ``--seconds`` seconds. Afterwards it checks every
operation's output. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; ``--trace 1`` repeats the run with the
Spark event log on and every layer call wrapped, and reports per-layer
metrics instead. See ``perfbench/README.md`` for every definition.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Noise controls (recorded in the report):
# - local[N] with N <= the CPUs this process may run on;
# - an explicit driver heap, well under this class of host's memory, so
#   the JVM collects garbage on a steady cadence instead of rarely and
#   at random ops (the package's default is 24g);
# - warm-up ops before the timed window, counted in setup_s (per
#   workload, ``warmup_ops``).
MAX_CORES = 4
DRIVER_MEM = "2g"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _children(pid: int) -> list[int]:
    """All live descendants of ``pid`` (JVM, Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _tree() -> list[int]:
    return [os.getpid(), *_children(os.getpid())]


def reset_hwm() -> None:
    """Reset the kernel's peak-RSS mark of every process in the tree."""
    for p in _tree():
        try:
            with open(f"/proc/{p}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> float:
    """Sum of VmHWM over the process tree, in MB."""
    total = 0
    for p in _tree():
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def py_probe() -> float:
    """The contention sentinel's single-core half: bench.py's fixed Python
    loop at a fifth of its size. Taken while no JVM runs (before the
    session starts and after it stops), so the run's own JIT and GC
    threads do not slow it. Recorded only; nothing is normalized by it."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    return time.perf_counter() - t0


def jvm_probe(spark) -> float:
    """The sentinel's all-core half: bench.py's codegen'd range aggregate
    at a fifth of its size, warmed once. Recorded only."""
    probe = "select sum(id * 2 + 1) from range(40000000)"
    spark.sql(probe).collect()
    t0 = time.perf_counter()
    spark.sql(probe).collect()
    return time.perf_counter() - t0


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM between ops, so every op
    starts from the same heap state: released checkpoint blocks are
    cleaned here rather than by a collection that lands inside a later
    op."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every
    descendant process to end."""
    from pyspark import SparkContext

    kids = _children(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        proc = getattr(gw, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 30
    for p in kids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import pyspark  # noqa: F401

        import redcap_omop_etl_spark  # noqa: F401
    except ImportError as exc:
        return _fail(f"cannot import the program: {exc}")
    import workloads

    classes = {c.name: c for c in (workloads.RedcapEtl, workloads.MaintenanceTicks)}
    if args.workload not in classes:
        return _fail(f"unknown workload {args.workload!r}; choose from {sorted(classes)}")

    # Everything the run writes lives under the checkout, in one
    # directory removed at the end.
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    os.environ.update(
        {
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
        }
    )
    try:
        return _run(args, classes[args.workload], work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(args, workload_cls, work: str, cores: int) -> int:
    import tracing

    from redcap_omop_etl_spark.session import build_session

    tracer = tracing.Tracer(os.path.join(work, "eventlog")) if args.trace else None
    extra = {
        "spark.driver.extraJavaOptions": (
            "-Dio.netty.tryReflectionSetAccessible=true -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if tracer:
        extra.update(tracer.spark_conf())
    calib0 = {"py_s": py_probe()}
    t = time.perf_counter()
    spark = build_session(f"perfbench-{args.workload}", master=f"local[{cores}]", extra_conf=extra)
    session_build_s = time.perf_counter() - t
    try:
        calib0["jvm_s"] = jvm_probe(spark)
        n_warm = workload_cls.warmup_ops
        # No op of either workload takes under a second, so inputs for one
        # op per second of the window always cover the run.
        max_ops = n_warm + math.ceil(args.seconds) + 1
        wl = workload_cls(spark, work, args.seed, max_ops)
        wl.setup()
        if tracer:
            tracer.install(spark, wl)
        walls: list[float] = []
        written: list[int] = []
        failed_ops: set[int] = set()
        t_warm = time.perf_counter()
        for k in range(n_warm):
            settle(spark)
            t = time.perf_counter()
            with tracing.op_span(tracer, k, timed=False):
                wl.op(k)
            walls.append(time.perf_counter() - t)
        warmup_s = time.perf_counter() - t_warm
        reset_hwm()
        setup_s = time.perf_counter() - T_PROCESS

        # Timed window: closed loop, one client. An op starts while the
        # window is open and the generated inputs last; the last op may
        # end after the window closes, and the timed wall includes it.
        timed: list[int] = []
        timed_walls: list[float] = []
        t_start = time.perf_counter()
        k = n_warm
        while True:
            elapsed = time.perf_counter() - t_start
            if k >= max_ops or elapsed >= args.seconds:
                break
            settle(spark)
            t = time.perf_counter()
            try:
                with tracing.op_span(tracer, k, timed=True):
                    nbytes = wl.op(k)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                print(f"perfbench: op {k} failed: {type(exc).__name__}: {exc}", file=sys.stderr)
                failed_ops.add(k)
                nbytes = 0
            wall = time.perf_counter() - t
            walls.append(wall)
            timed.append(k)
            timed_walls.append(wall)
            written.append(nbytes)
            k += 1
        timed_s = time.perf_counter() - t_start
        rss = peak_rss_mb()

        # Correctness, outside the timed window.
        warm_ok = all(wl.check_op(i) for i in range(n_warm))
        for i in timed:
            if i not in failed_ops and not wl.check_op(i):
                failed_ops.add(i)
        final = wl.check_final()
        if final is False:
            failed_ops.update(timed)
        calib1 = {"jvm_s": jvm_probe(spark)}
        if tracer:
            tracer.uninstall()
    finally:
        stop_spark(spark)
    calib1["py_s"] = py_probe()
    layer = tracer.collect(wl, timed, timed_walls, written) if tracer else None

    ok_walls = [w for i, w in zip(timed, timed_walls) if i not in failed_ops] or timed_walls
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(ok_walls), "s"),
        "ops_per_s": ((len(timed) - len(failed_ops)) / timed_s, "ops/s"),
        "peak_rss_mb": (rss, "MB"),
        "written_mb_per_op": (statistics.median(written) / 1e6, "MB"),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "timed_ops": len(timed),
        "timed_wall_s": timed_s,
        "op_walls_s": [round(w, 3) for w in walls],
        "failed_op_share": len(failed_ops) / len(timed),
        "noise_controls": {
            "master": f"local[{cores}]",
            "driver_heap": DRIVER_MEM,
            "warmup_ops": n_warm,
            "op_shape": "identical",
        },
        "session_build_s": session_build_s,
        "warmup_s": warmup_s,
        "calibration": {"start": calib0, "end": calib1},
        # bench.py's rule: the Python probe drifting by more than 1.3x
        # within the run means the host was contended during it.
        "contended": max(calib0["py_s"], calib1["py_s"]) > 1.3 * min(calib0["py_s"], calib1["py_s"]),
    }
    print(json.dumps(report))
    for name, (value, unit) in e2e.items():
        print(f"{args.workload} {name} = {value:.4f} {unit}" + (
            f" (n={len(ok_walls)})" if name == "op_p50_s" else ""))
    if tracer:
        print(json.dumps({"per_op": tracer.per_op, "spans": tracer.span_totals()}))
        layer["session.build_s"] = (session_build_s, "s")
        layer["bench.warmup_s"] = (warmup_s, "s")
        layer["bench.failed_op_share"] = (report["failed_op_share"], "ratio")
        layer["bench.traced_op_p50_s"] = e2e["op_p50_s"]
        layer["calib.py_s_start"] = (calib0["py_s"], "s")
        layer["calib.py_s_end"] = (calib1["py_s"], "s")
        layer["calib.jvm_s_start"] = (calib0["jvm_s"], "s")
        layer["calib.jvm_s_end"] = (calib1["jvm_s"], "s")
        metrics = layer
    else:
        metrics = e2e
    correct = warm_ok and final is not False and not failed_ops
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": len(timed),
                "failed": len(failed_ops),
                "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

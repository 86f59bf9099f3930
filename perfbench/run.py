"""Ingestion benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload full_reload --seed 1 --seconds 12 --trace 0

Run from the root of a checkout (the directory holding
``cdk_datalake_ingest_upeu_spark``). Inputs are generated from
``--seed`` under ``.perfbench_work/`` in that directory; Spark's scratch
space is pointed there as well. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics (see ``layers.py``). The line before it holds the details:
environment, sample counts and the percentile behind each ``.tail``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import layers  # noqa: E402
import stats  # noqa: E402
from spans import FULL, LIGHT, Tracer  # noqa: E402

PACKAGE = "cdk_datalake_ingest_upeu_spark"
SETUP_REPS = 7  # session starts per run; setup_s takes their median
# The driver JVM runs C1 only, with low compile thresholds; the package's
# own session keeps the JVM's default JIT. With the default JIT, C2 is
# still compiling through a whole run (a full_reload table load kept
# getting faster for 30 s after the warm-up) and its threads compete
# with the task threads: on a 4-vCPU VM the incremental batch took 4.8 s
# instead of 3.1 s and the full_reload median spread 30% across seeds.
# C1 only is flat after the warm-up, so a run measures the program, not
# the JIT; the figures are those of C1-compiled code, which every result
# records. C1 only also shrinks the code cache to 48 MB, which Spark
# fills (the JVM then stops compiling): 240 MB.
JIT_OPTIONS = (
    "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m -XX:Tier3InvocationThreshold=20"
    " -XX:Tier3MinInvocationThreshold=10 -XX:Tier3CompileThreshold=200"
)


def sandbox_env(work: str) -> dict:
    """Fit the session to this machine before the package is imported:
    one task slot, a JVM heap well below physical RAM, and every scratch
    directory inside the checkout. On a shared VM the host takes CPU time
    from the guest's vCPUs (steal), and a run's latency follows the steal
    during it. One slot is slower than two (a full_reload table load took
    about 3.1 s against 2.2 s on a 4-vCPU VM) but follows steal about half
    as steeply: with two slots, 12% steal (of busy time) made table loads
    30% slower than 2% steal did; with one slot, 40% steal made them 50%
    slower. The program's own parallelism (tables side by side) stays."""
    nproc = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    cpus = 1
    mem_mb = max(512, min(2048, ram // (8 << 20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return {"nproc": nproc, "ram_bytes": ram, **env}


def cpu_ticks():
    """Machine-wide (busy, steal) clock ticks from ``/proc/stat``: the
    share of steal in a run's window explains most of its spread."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError, IndexError):
        return None
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def import_modules(root: str):
    sys.path.insert(0, root)
    import importlib

    names = {
        "session": "session",
        "config": "config",
        "pipeline": "pipeline.driver",
        "strategy": "plans.strategy",
        "watermark": "plans.watermark",
        "files": "sources.files",
        "jdbc": "sources.jdbc",
        "incremental": "streaming.incremental",
        "versioned": "operators.versioned",
    }
    mods = types.SimpleNamespace()
    for attr, mod in names.items():
        setattr(mods, attr, importlib.import_module(f"{PACKAGE}.{mod}"))
    return mods


def descendants(pid: int) -> list:
    """``(pid, start time)`` of every live process below ``pid``, from
    ``/proc``; the start time tells a process from a later one that
    reuses its pid."""
    children: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append((int(entry), fields[19]))
    found, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            found.append(child)
            todo.append(child[0])
    return found


def alive(proc) -> bool:
    pid, start = proc
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[0] != "Z" and fields[19] == start


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``). spark-submit's shell leaves a subshell
    behind under the JVM; once the JVM ends it would become a zombie of
    pid 1, and ``stop_spark`` could not wait for it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (AttributeError, OSError):
        pass


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM that pyspark started and every
    process below it (Python workers, spark-submit's subshell), and wait
    until each has ended. ``SparkSession.stop`` leaves the JVM running; it
    would only exit after this process, once it sees its stdin close."""
    from pyspark import SparkContext

    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the processes are ended below regardless
            traceback.print_exc()
    gateway = SparkContext._gateway
    procs = descendants(os.getpid())
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:  # noqa: BLE001
            pass
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            try:
                jvm.stdin.close()  # the gateway server exits when its stdin closes
                jvm.wait(timeout=30)
            except Exception:  # noqa: BLE001 - hung or already gone: kill it
                jvm.kill()
                jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 10
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for proc in procs:
            if alive(proc):
                try:
                    os.kill(proc[0], sig)
                except OSError:
                    pass
        while any(alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        deadline = time.monotonic() + 30
    # reap the children left: orphans adopted by ``adopt_orphans``
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            if time.monotonic() > deadline:
                return
            time.sleep(0.05)


def install_spans(tracer: Tracer) -> None:
    def module(path):
        return sys.modules[f"{PACKAGE}.{path}"]

    def post_apply(span, args, _kw, result):
        span.counts["functions.columns"] = len(args[2])
        span.counts["functions.errors"] = len(result.errors)

    def post_land(span, args, _kw, _result):
        span.counts["bytes"] = sum(
            os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(args[1]) for f in fs
        )

    def post_stage_read(_span, _args, _kw, df):
        count = df.count

        def timed_count():
            inner = tracer.open("operators.stage_read_count")
            try:
                return count()
            finally:
                tracer.close(inner)

        df.count = timed_count

    posts = {
        "functions.apply": post_apply,
        "sources.land": post_land,
        "operators.stage_read": post_stage_read,
    }
    for name, (path, target) in layers.SPANS.items():
        owner = module(path)
        attr = target
        if "." in target:
            cls, attr = target.split(".")
            owner = getattr(owner, cls)
        for a in attr.split("|"):
            tracer.wrap(owner, a, name, post=posts.get(name))


def watch_stage_writes(walker):
    """Have ``walker`` count every Spark write under its root right after
    the write returns, so files deleted later in the same op (a MERGE's
    staging copy) are counted too. Returns a function that undoes it."""
    from pyspark.sql.readwriter import DataFrameWriter

    patched = []
    for attr in ("save", "parquet"):
        orig = getattr(DataFrameWriter, attr)

        def wrapper(self, *args, _orig=orig, **kwargs):
            result = _orig(self, *args, **kwargs)
            path = args[0] if args else kwargs.get("path")
            if isinstance(path, str) and walker.covers(path):
                walker.record(path)
            return result

        patched.append((attr, orig))
        setattr(DataFrameWriter, attr, wrapper)

    def undo():
        for attr, orig in patched:
            setattr(DataFrameWriter, attr, orig)

    return undo


def per_layer(workload, spans, full_ops, setup_info, overhead):
    """Per-layer metric values of ``workload`` from the FULL ops' spans."""
    out = {}
    by_op_name: dict = {}
    for s in spans:
        if s.op in full_ops:
            by_op_name.setdefault((s.op, s.name), []).append(s)
    per_op_spans: dict = {}
    for (op, _name), ss in by_op_name.items():
        per_op_spans.setdefault(op, []).extend(ss)

    def field_value(s, field):
        if field == "duration":
            return s.duration
        if field == "self":
            return s.self_s
        return s.counts.get(field)

    for name, unit, _better, span, field, per, _target in layers.metrics_for(workload):
        if field == "setup":
            value = setup_info[name]
        elif field == "overhead":
            value = overhead[name]
        elif span == "*":
            vals = []
            for op in full_ops:
                ss = per_op_spans.get(op, [])
                vals.append(len(ss) if field == "spans" else sum(s.counts.get(field, 0) for s in ss))
            value = stats.median(vals)
        elif per == "call":
            vals = [
                v for (op, n), ss in by_op_name.items() if n == span
                for s in ss if (v := field_value(s, field)) is not None
            ]
            value = stats.median(vals)
        else:
            vals = []
            for (op, n), ss in by_op_name.items():
                if n != span:
                    continue
                got = [v for s in ss if (v := field_value(s, field)) is not None]
                if got:
                    vals.append(sum(got))
            value = stats.median(vals)
        out[name] = {"value": float(value), "unit": unit}
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a SIGTERM unwinds through the ``finally`` below, which ends the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    adopt_orphans()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ in {root}; run from a checkout root", file=sys.stderr)
        return 2

    import workloads  # after the root check: it imports duckdb/pyarrow/numpy

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    env = sandbox_env(work)
    data = os.path.join(work, "data")
    wl = workloads.WORKLOADS[args.workload]()
    spark = None
    phases = {}  # wall seconds per phase of this run
    try:
        t_phase = time.perf_counter()
        mods = import_modules(root)
        wl.generate(os.path.join(data, "inputs"), args.seed, args.seconds)
        phases["generate"] = time.perf_counter() - t_phase

        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData {JIT_OPTIONS}",
        }
        # set-up = session start + config load (median of SETUP_REPS
        # fresh sessions) + the workload's initial stage state (built once)
        start_s, spark_s, config_s = [], [], []
        for _rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = mods.session.get_spark(f"perfbench-{args.workload}", extra_conf=extra)
            t1 = time.perf_counter()
            state, cfg = wl.configure(mods, spark, os.path.join(data, "state"))
            start_s.append(time.perf_counter() - t0)
            spark_s.append(t1 - t0)
            config_s.append(cfg)
        unwatch = watch_stage_writes(state["walker"])
        t0 = time.perf_counter()
        wl.build(mods, spark, state)
        build_s = time.perf_counter() - t0
        setup_s = stats.median(start_s) + build_s
        phases["setup"] = time.perf_counter() - t_phase - phases["generate"]
        t_phase = time.perf_counter()

        tracer = Tracer(
            spark.sparkContext if args.trace else None,
            light_names={"bench.op", wl.latency_span, wl.commit_span},
        )
        install_spans(tracer)
        # unmeasured ops first, so the JIT and Spark's codegen caches are
        # warm (an ingestion service runs warm); a fixed count, so every
        # run's measured ops start at the same point of the input stream
        for i in range(wl.warmup_ops):
            tracer.start_op(-1 - i, LIGHT)
            workloads.verify(wl.op(mods, spark, state, i))
            state["walker"].walk()
        tracer.spans.clear()
        i = wl.warmup_ops
        phases["warmup"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()

        results = {}
        full_ops = set()
        used_up = None
        ticks0 = cpu_ticks()
        t_end = time.perf_counter() + args.seconds
        while time.perf_counter() < t_end:
            level = FULL if args.trace and i % 2 else LIGHT
            tracer.start_op(i, level)
            span = tracer.open("bench.op")
            try:
                res = wl.op(mods, spark, state, i)
            except workloads.InputsUsedUp as exc:
                # the window ends early; the op did no work and is not counted
                used_up = {"at_op": i, "after_s": args.seconds - (t_end - time.perf_counter()),
                           "reason": str(exc)}
                break
            except Exception:  # noqa: BLE001 - a failed op is counted, the loop goes on
                traceback.print_exc()
                res = workloads.OpResult(failed=1)
            finally:
                tracer.close(span)
            workloads.verify(res)  # outside the op's timing
            if level == FULL:
                full_ops.add(i)
            workloads.layer_counts(state, res, level)
            span.counts.update(res.counts)
            results[i] = (res, span, level)
            i += 1
        tracer.level = LIGHT
        tracer.unwrap_all()
        unwatch()
        if used_up is not None:
            tracer.spans = [s for s in tracer.spans if s.op != used_up["at_op"]]
        tracer.count_jobs()
        ticks1 = cpu_ticks()
        steal = None
        if ticks0 and ticks1 and ticks1 != ticks0:
            busy, stolen = ticks1[0] - ticks0[0], ticks1[1] - ticks0[1]
            steal = stolen / (busy + stolen) if busy + stolen else 0.0
        phases["measure"] = time.perf_counter() - t_phase
        t_phase = time.perf_counter()

        n_checked, failures = wl.check(state)
        phases["check"] = time.perf_counter() - t_phase
        for f in failures:
            print(f"perfbench: check failed: {f[:600]}", flush=True)

        metrics, detail = end_to_end(wl, tracer.spans, results, setup_s, failures)
        detail.update({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "python": platform.python_version(),
            "pyspark": __import__("pyspark").__version__,
            "setup": {"session_and_config_s": start_s, "build_s": build_s},
            "checks": n_checked, "env": env, "inputs_used_up": used_up,
            "jvm": {"jit": "C1 only (not the default JIT)", "options": JIT_OPTIONS},
            "phases_s": phases, "steal_share": steal,
        })
        attempted = detail.pop("attempted")
        failed = detail.pop("failed")
        if args.trace:
            overhead = overhead_of(wl, tracer.spans, results)
            e2e, metrics = metrics, per_layer(
                args.workload, tracer.spans, full_ops,
                {"config.load_s": stats.median(config_s), "session.get_spark_s": stats.median(spark_s)},
                overhead,
            )
            detail["overhead"] = overhead
            detail["end_to_end_untraced_ops"] = e2e
        spans_path = os.path.join(work, "spans.jsonl")
        tracer.dump(spans_path)
        detail["spans"] = os.path.relpath(spans_path, root)
        with open(os.path.join(work, "result.json"), "w", encoding="utf-8") as fh:
            json.dump({"detail": detail, "metrics": metrics}, fh, indent=1)
    except Exception:  # noqa: BLE001 - any harness failure: no result line, non-zero exit
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            stop_spark(spark)
        shutil.rmtree(data, ignore_errors=True)
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def samples(wl, spans, results, level):
    """Latency and commit durations of the ops run at ``level``."""
    ops = {i for i, (_r, _s, lvl) in results.items() if lvl == level}

    def pick(name, want_commit):
        if name == "bench.op":
            return [s.duration for r, s, lvl in results.values()
                    if lvl == level and (r.kind == "commit") == want_commit]
        return [s.duration for s in spans if s.op in ops and s.name == name]

    return pick(wl.latency_span, False), pick(wl.commit_span, True)


def end_to_end(wl, spans, results, setup_s, failures):
    latency, commits = samples(wl, spans, results, LIGHT)
    # rows over the time of the ops that deliver them: commits of the
    # versioned workload are timed by commit_s alone
    light = [(r, s) for r, s, lvl in results.values() if lvl == LIGHT and r.kind != "commit"]
    op_time = sum(s.duration for _r, s in light)
    rows = sum(r.rows for r, _s in light)
    written = sum(r.counts.get("operators.stage_bytes_written", 0) for r, _s, _l in results.values())
    inputs = sum(r.input_bytes for r, _s, _l in results.values())
    attempted = sum(r.units for r, _s, _l in results.values())
    failed = min(attempted, sum(r.failed for r, _s, _l in results.values()) + len(failures))
    tail, pct = stats.tail(latency)
    if tail is None:  # too few samples to name a tail: report the maximum
        tail, pct = (max(latency), 100.0) if latency else (0.0, None)
    metrics = {
        "setup_s": (setup_s, "s"),
        "latency_s.p50": (stats.median(latency), "s"),
        "latency_s.tail": (tail, "s"),
        "rows_per_s": (rows / op_time if op_time else 0.0, "1/s"),
        "commit_s.p50": (stats.median(commits), "s"),
        "write_amp": (written / inputs if inputs else 0.0, "ratio"),
        "ok_frac": ((attempted - failed) / attempted if attempted else 0.0, "ratio"),
    }
    detail = {
        "latency_samples": len(latency), "tail_percentile": pct, "commit_samples": len(commits),
        "ops": len(results), "rows": rows, "bytes_written": written, "input_bytes": inputs,
        "attempted": attempted, "failed": failed,
    }
    return {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}, detail


def overhead_of(wl, spans, results):
    """Tracing overhead: traced minus untraced median latency, both from
    this run's alternating ops."""
    untraced = stats.median(samples(wl, spans, results, LIGHT)[0])
    diff = stats.median(samples(wl, spans, results, FULL)[0]) - untraced
    return {"trace.overhead_s": diff, "trace.overhead_frac": diff / untraced if untraced else 0.0}


if __name__ == "__main__":
    sys.exit(main())

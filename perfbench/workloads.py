"""The three workloads. Each is a closed loop with one client: the next
op starts only after the previous one returned.

A workload provides ``configure`` (config load and program objects; run
once per session start, several times), ``build`` (the initial stage
state, once), ``op`` (one unit of measured work, returning what it did)
and ``check`` (final output checks, outside the timed region). Every call
into the program goes through the package's public functions, looked up
on their modules at call time so that the tracer's wrappers apply.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import oracle
from spans import FULL


# Inputs are sized for ops this fast; an op that would need more ends the
# measured window (InputsUsedUp) instead of failing.
OP_FLOOR_S = {"incremental_merge": 0.5, "versioned_read_write": 0.005}


class InputsUsedUp(Exception):
    """Raised by an op, before it does any work, when the generated inputs
    are used up."""


class OpResult:
    __slots__ = ("units", "failed", "rows", "input_bytes", "kind", "counts", "frame", "verify")

    def __init__(self, units=1, failed=0, rows=0, input_bytes=0, kind="op"):
        self.units = units  # latency samples this op contributes
        self.failed = failed
        self.rows = rows
        self.input_bytes = input_bytes
        self.kind = kind
        self.counts: dict = {}
        self.frame = None  # a read's DataFrame, for its input file count
        # the op's output check, run after its timing ends: returns the
        # number of wrong outputs
        self.verify = None


def verify(res: OpResult) -> None:
    """Run an op's deferred output check; a wrong output counts as failed."""
    if res.verify is not None:
        res.failed += res.verify()
        res.verify = None


def load_config(mods, tables_csv: str, columns_csv: str, names: list[str]):
    """config layer: parse both CSVs and resolve every table's specs."""
    cfg = mods.config
    t_rows = cfg.load_config_csv(tables_csv)
    c_rows = cfg.load_config_csv(columns_csv)
    return {n: (cfg.table_spec_for(t_rows, n), cfg.columns_for_table(c_rows, n)) for n in names}


class StageWalker:
    """Data files under the stage directories, by directory walk: how many
    exist, and how many bytes were written since the last walk (files are
    keyed by path, size and mtime, so a rewrite counts). Data files are
    the parquet files outside a versioned table's ``_log``; commit
    records, checkpoints and checksums are not counted.

    A walk after an op cannot see files written and deleted inside it
    (such as a MERGE's staging copy), so every Spark write whose target
    lies under the root is also walked as soon as it returns
    (:meth:`record`, called from ``run.watch_stage_writes``)."""

    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        self.seen: set = set()
        self.pending = 0  # bytes recorded by ``record`` since the last walk
        self.lock = threading.Lock()

    def covers(self, path: str) -> bool:
        return os.path.abspath(path).startswith(self.root + os.sep)

    def _scan(self, top: str) -> set:
        current = set()
        for dirpath, _dirs, files in os.walk(top):
            if "_log" in dirpath.split(os.sep):
                continue
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                current.add((p, st.st_size, st.st_mtime_ns))
        return current

    def record(self, target: str) -> None:
        """Count the files a write just left under ``target``."""
        files = self._scan(os.path.abspath(target))
        with self.lock:
            fresh = files - self.seen
            self.seen |= fresh
            self.pending += sum(size for (_p, size, _m) in fresh)

    def walk(self) -> tuple[int, int]:
        current = self._scan(self.root)
        with self.lock:
            new_bytes = self.pending + sum(size for (_p, size, _m) in current - self.seen)
            self.pending = 0
            self.seen = current
        return len(current), new_bytes


# -- full_reload --------------------------------------------------------------------


class FullReload:
    name = "full_reload"
    latency_span = "pipeline.process_table"
    commit_span = "operators.stage_overwrite"
    groups = 3
    tables_per_group = 4
    n_ids = 2500
    warmup_ops = 2  # about 8 s

    def generate(self, root, seed, seconds):
        self.inputs = gen.full_reload_inputs(
            root, seed, groups=self.groups, tables_per_group=self.tables_per_group,
            n_ids=self.n_ids,
        )
        self.names = [n for g in self.inputs["groups"] for n in g]

    def configure(self, mods, spark, rep_dir):
        t0 = time.perf_counter()
        specs = load_config(mods, self.inputs["tables_csv"], self.inputs["columns_csv"], self.names)
        config_s = time.perf_counter() - t0
        stage_root = os.path.join(rep_dir, "stage")
        processor = mods.pipeline.TableProcessor(spark, stage_root)
        state = {
            "specs": specs,
            "driver": mods.pipeline.PipelineDriver(processor, max_parallel_tables=self.tables_per_group),
            "raw_zone": os.path.join(rep_dir, "raw"),
            "walker": StageWalker(stage_root),
            "stage_root": stage_root,
            "loaded": set(),
        }
        return state, config_s

    def build(self, mods, spark, state):
        """Nothing to build: every op replaces its tables."""

    def _land(self, mods, spark, state, name):
        """Extract one table (its plan, a source scan) and land it in the
        raw zone; returns the run_group job for it."""
        spec, cols = state["specs"][name]
        mods.strategy.determine_load_strategy(spec)
        src = mods.jdbc.ParquetTableSource(spark, self.inputs["paths"][name]).scan()
        landed = os.path.join(state["raw_zone"], name)
        mods.files.write_raw_parquet(src, landed)
        return mods.files.read_raw_parquet(spark, landed), spec, cols

    def op(self, mods, spark, state, i):
        group = self.inputs["groups"][i % len(self.inputs["groups"])]
        # the group's extracts run side by side, as the group's loads do
        with ThreadPoolExecutor(max_workers=len(group)) as pool:
            jobs = list(pool.map(lambda n: self._land(mods, spark, state, n), group))
        outcomes = state["driver"].run_group(jobs)
        res = OpResult(
            units=len(group),
            failed=sum(o.status == "FAILED" for o in outcomes),
            rows=sum(self.inputs["rows"][n] for n in group),
            input_bytes=sum(self.inputs["bytes"][n] for n in group),
        )
        for o in outcomes:
            if o.status == "FAILED":
                print(f"perfbench: {o.table} failed: {o.error[:400]}", flush=True)
        state["loaded"].update(n for n, o in zip(group, outcomes) if o.status != "FAILED")
        return res

    def check(self, state):
        failures = []
        for name in sorted(state["loaded"]):
            spec, _cols = state["specs"][name]
            ok, msg = oracle.check_full_reload(
                self.inputs["paths"][name], os.path.join(state["stage_root"], spec.stage_table_name)
            )
            if not ok:
                failures.append(f"{name}: {msg}")
        return len(state["loaded"]), failures


# -- incremental_merge -----------------------------------------------------------------


class IncrementalMerge:
    name = "incremental_merge"
    latency_span = "streaming.run"
    commit_span = "operators.stage_merge"
    warmup_ops = 2  # about 9 s
    # one PROCESS_ID group: each op runs one daily batch per table, side by side
    tables = {f"{kind}_{i}": kind for i in range(2) for kind in ("eventos", "ordenes")}

    def generate(self, root, seed, seconds):
        self.inputs = gen.incremental_inputs(
            root, seed, tables=self.tables, snapshot_days=8,
            batches=self.warmup_ops + int(seconds / OP_FLOOR_S[self.name]) + 1,
            new_per_day=1500, late_share=0.2, reextract_share=0.1, trailing_days=3,
        )

    def configure(self, mods, spark, rep_dir):
        t0 = time.perf_counter()
        specs = load_config(
            mods, self.inputs["tables_csv"], self.inputs["columns_csv"],
            [f"stg_{t}" for t in self.tables],
        )
        config_s = time.perf_counter() - t0
        stage_root = os.path.join(rep_dir, "stage")
        state = {
            "specs": {t: specs[f"stg_{t}"] for t in self.tables},
            "processor": mods.pipeline.TableProcessor(spark, stage_root),
            # one watermark journal per table: WatermarkStore rewrites its
            # whole JSON file per update, so tables running side by side
            # must not share one
            "runners": {
                t: mods.incremental.IncrementalRunner(
                    mods.watermark.WatermarkStore(
                        os.path.join(rep_dir, "watermarks", f"{t}.json"), project="perfbench"
                    ),
                    table=t, column="fechaaccion",
                )
                for t in self.tables
            },
            "raw_zone": os.path.join(rep_dir, "raw"),
            "stage_root": stage_root,
            "walker": StageWalker(stage_root),
            "next": {t: 0 for t in self.tables},
        }
        return state, config_s

    def build(self, mods, spark, state):
        """The initial snapshot of every table (LoadMode.INITIAL)."""
        self._each(lambda t: self._ingest(
            mods, spark, state, t, self.inputs["tables"][t]["snapshot"], "snapshot",
            mode=mods.strategy.LoadMode.INITIAL,
        ))
        state["walker"].walk()

    def _each(self, fn):
        with ThreadPoolExecutor(max_workers=len(self.tables)) as pool:
            return list(pool.map(fn, self.tables))

    def _ingest(self, mods, spark, state, table, path, label, mode=None):
        spec, cols = state["specs"][table]
        mods.strategy.determine_load_strategy(spec)
        source = mods.jdbc.ParquetTableSource(spark, path)

        def sink(df):
            landed = os.path.join(state["raw_zone"], table, label)
            mods.files.write_raw_parquet(df, landed)
            raw = mods.files.read_raw_parquet(spark, landed)
            outcome = state["processor"].process_table(raw, spec, cols)
            if outcome.status == "FAILED":
                raise RuntimeError(outcome.error)

        runner = state["runners"][table]
        if mode is None:
            return runner.run(source.scan, sink)
        return runner.run(source.scan, sink, mode=mode)

    def op(self, mods, spark, state, i):
        batches = {}
        for t in self.tables:
            b = state["next"][t]
            if b >= len(self.inputs["tables"][t]["batches"]):
                raise InputsUsedUp(f"{t}: all {b} generated batches used")
            batches[t] = b
        for t, b in batches.items():
            state["next"][t] = b + 1
        rows = self._each(lambda t: self._ingest(
            mods, spark, state, t, self.inputs["tables"][t]["batches"][batches[t]],
            f"batch-{batches[t]:04d}",
        ))
        return OpResult(
            units=len(self.tables), rows=sum(rows),
            input_bytes=sum(self.inputs["tables"][t]["batch_bytes"][b] for t, b in batches.items()),
        )

    def check(self, state):
        failures = []
        for t, kind in self.tables.items():
            info = self.inputs["tables"][t]
            spec, _cols = state["specs"][t]
            ok, msg = oracle.check_incremental(
                kind, info["snapshot"], info["batches"][: state["next"][t]],
                os.path.join(state["stage_root"], spec.stage_table_name),
            )
            if not ok:
                failures.append(f"{t}: {msg}")
        return len(self.tables), failures


# -- versioned_read_write -----------------------------------------------------------------


class Expected:
    """Per-commit expected state of the versioned table, kept by the
    generator side: key -> (grp, v, ts), plus (count, sum v) per version."""

    def __init__(self):
        self.rows: dict[int, tuple[int, int, int]] = {}
        self.per_version: list[tuple[int, int]] = []

    def apply(self, op: str, path: str, resolve_by_ts: bool = False) -> None:
        import pyarrow.parquet as pq

        t = pq.read_table(path, columns=["k", "grp", "v", "ts"]).to_pydict()
        batch: dict[int, tuple[int, int, int]] = {}
        for k, g, v, ts in zip(t["k"], t["grp"], t["v"], t["ts"]):
            if not resolve_by_ts or k not in batch or ts > batch[k][2]:
                batch[k] = (g, v, ts)
        if op == "overwrite":
            self.rows = batch
        else:
            self.rows.update(batch)
        self.per_version.append((len(self.rows), sum(r[1] for r in self.rows.values())))

    def range_agg(self, lo: int, hi: int) -> tuple[int, int]:
        hits = [self.rows[k][1] for k in range(lo, hi + 1) if k in self.rows]
        return len(hits), sum(hits)

    def group_agg(self) -> dict:
        out: dict[int, list[int]] = {}
        for g, v, _ts in self.rows.values():
            acc = out.setdefault(g, [0, 0])
            acc[0] += 1
            acc[1] += v
        return {g: tuple(a) for g, a in out.items()}


class VersionedReadWrite:
    name = "versioned_read_write"
    latency_span = "bench.op"
    commit_span = "bench.op"
    commit_every = 8  # one merge commit after this many reads
    warmup_ops = 18  # two read/commit cycles after the set-up commits; about 8 s
    setup_commits = 16  # + the initial overwrite: 17 versions, past the 16-entry snapshot memo

    def generate(self, root, seed, seconds):
        ops = self.warmup_ops + int(seconds / OP_FLOOR_S[self.name]) + 1
        self.inputs = gen.versioned_inputs(
            root, seed, base_keys=20000, setup_commits=self.setup_commits, append_keys=500,
            merge_keys=200, run_commits=ops // (self.commit_every + 1) + 1, reads=ops,
        )

    def configure(self, mods, spark, rep_dir):
        path = os.path.join(rep_dir, "stage", "versioned")
        state = {
            "table": mods.versioned.VersionedStageTable(spark, path), "expected": Expected(),
            "reads": 0, "commits": 0, "stage_root": os.path.dirname(path),
            "walker": StageWalker(os.path.dirname(path)),
        }
        return state, 0.0

    def build(self, mods, spark, state):
        """Commit the set-up history, keeping the expected state per version."""
        table, expected = state["table"], state["expected"]
        for c in self.inputs["setup"]:
            if c["op"] == "overwrite":
                # one partition, so one written file, per generated key range:
                # stats pruning has ranges to skip
                parts = [spark.read.parquet(p) for p in c["parts"]]
                df = functools.reduce(lambda a, b: a.union(b), parts)
                table.overwrite(df.sortWithinPartitions("k"))
            else:
                table.append(spark.read.parquet(c["path"]))
            expected.apply(c["op"], c["path"])
        state["walker"].walk()

    def op(self, mods, spark, state, i):
        from pyspark.sql import functions as F

        table, expected = state["table"], state["expected"]
        if i % (self.commit_every + 1) == self.commit_every:
            if state["commits"] >= len(self.inputs["run"]):
                raise InputsUsedUp(f"all {state['commits']} generated commits used")
            c = self.inputs["run"][state["commits"]]
            state["commits"] += 1
            table.merge(spark.read.parquet(c["path"]), ["k"], resolve_by=["ts"])
            res = OpResult(units=1, rows=c["rows"], input_bytes=c["bytes"], kind="commit")

            def commit_verify():
                expected.apply("merge", c["path"], resolve_by_ts=True)
                return 0

            res.verify = commit_verify
            return res
        req = self.inputs["reads"][state["reads"] % len(self.inputs["reads"])]
        state["reads"] += 1
        res = OpResult(kind="read")
        if req[0] == "lookup":
            df = table.lookup(f"k = {req[1]}")
            got = [(r.k, r.grp, r.v, r.ts) for r in df.collect()]
            res.rows = len(got)

            def want():
                return [(req[1], *expected.rows[req[1]])] if req[1] in expected.rows else []
        elif req[0] == "range":
            df = table.read(where=f"k BETWEEN {req[1]} AND {req[2]}")
            r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).first()
            got = (r.n, r.s or 0)
            res.rows = r.n

            def want():
                return expected.range_agg(req[1], req[2])
        elif req[0] == "version":
            v = min(int(req[1] * len(expected.per_version)), len(expected.per_version) - 1)
            df = table.read(version=v)
            r = df.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).first()
            got = (r.n, r.s or 0)
            res.rows = r.n

            def want():
                return expected.per_version[v]
        else:
            df = table.read(columns=["grp", "v"])
            rows = df.groupBy("grp").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()
            got = {r.grp: (r.n, r.s) for r in rows}
            res.rows = sum(r.n for r in rows)

            def want():
                return expected.group_agg()
        res.counts["read"] = req[0]
        res.frame = df

        def read_verify():
            expect = want()
            if got == expect:
                return 0
            print(f"perfbench: read {req} returned {str(got)[:200]}, expected {str(expect)[:200]}",
                  flush=True)
            return 1

        res.verify = read_verify
        return res

    def check(self, state):
        return 0, []


WORKLOADS = {w.name: w for w in (FullReload, IncrementalMerge, VersionedReadWrite)}


def layer_counts(state, res: OpResult, level: int) -> None:
    """Counts a FULL op records after it returned (outside its timing)."""
    files, new_bytes = state["walker"].walk()
    res.counts["operators.stage_files"] = files
    res.counts["operators.stage_bytes_written"] = new_bytes
    if level != FULL:
        return
    if res.frame is not None:
        scanned = len(res.frame.inputFiles())
        res.counts["versioned.files_scanned"] = scanned
        if res.counts.get("read") in ("lookup", "range") and scanned:
            res.counts["versioned.rows_per_file_scanned"] = res.rows / scanned
    if res.kind == "commit":
        last = state["table"].history()[-1]
        res.counts["versioned.files_live"] = last["n_files"]
        res.counts["versioned.files_rewritten"] = (last.get("metrics") or {}).get("files_rewritten", 0)


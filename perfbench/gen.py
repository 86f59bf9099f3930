"""Seeded input generator. Everything the program under test reads is
written here, under the run's scratch directory, before timing starts:

- F1-shaped all-string raw tables for ``full_reload`` (every
  ``fn_transform_*``, a nested call, a partition column, ~2% full-row
  duplicates, 1-3 versions per id) plus their tables.csv/columns.csv;
- F2-shaped daily batches for ``incremental_merge`` (new keys, late
  updates to earlier keys, trailing re-extracts below the watermark,
  the occasional empty or all-below-watermark batch);
- the commit batches and the read stream for ``versioned_read_write``.

The same seed gives the same files. Only numpy, pyarrow and the
standard library are used, so no Spark work happens here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAGIC_OFFSET = 693596  # days-since-1900 serial offset of fn_transform_DateMagic
EPOCH_1900 = dt.date(1900, 1, 1)

# -- config CSVs ---------------------------------------------------------------

TABLES_HEADER = (
    "COLUMNS;LOAD_TYPE;PARTITION_MODE;PARTITION_COLUMN;DELAY_INCREMENTAL_INI;"
    "DELAY_INCREMENTAL_END;FILTER_COLUMN;FILTER_DATA_TYPE;FILTER_EXP;ID_COLUMN;"
    "JOIN_EXPR;PROCESS_ID;SOURCE_SCHEMA;SOURCE_TABLE;SOURCE_TABLE_TYPE;"
    "STAGE_TABLE_NAME;JOB_EXTRACT_MAX_CAPACITY;STATUS;EXTRACTION_METADATA;"
    "PARTITION_FORMAT"
)
COLUMNS_HEADER = (
    "COLUMN_NAME;COLUMN_ID;IS_FILTER_DATE;IS_ID;IS_ORDER_BY;IS_PARTITION;"
    "NEW_DATA_TYPE;TABLE_NAME;TRANSFORMATION"
)

# (name, id, filter_date, is_id, order_by, partition, type, transformation)
# COLUMN_ID has gaps on purpose; ``extra`` names an unknown function, so
# it becomes a typed NULL column and a <10% warning.
F1_COLUMNS = [
    ("venta_id", 1, "", "T", "T", "", "int", "fn_transform_Integer(venta_id)"),
    ("cliente", 2, "", "", "", "", "string", "fn_transform_ClearString(cliente_cod,$000)"),
    ("fecha", 3, "", "", "", "", "date", "fn_transform_DateMagic(fecha_magic,yyyy-MM-dd)"),
    ("fecha_doc", 5, "", "", "", "", "date", "fn_transform_Date(fecha_str,yyyy-MM-dd,1900-01-01)"),
    ("fecha_hora_magic", 6, "", "", "", "", "timestamp",
     "fn_transform_DatetimeMagic(fecha_magic,hora,yyyy-MM-dd HH:mm:ss)"),
    ("fecha_hora", 7, "", "", "", "", "timestamp", "fn_transform_Datetime(fecha_hora)"),
    ("periodo", 8, "", "", "", "", "string", "fn_transform_PeriodMagic(mescuota,anyocuota)"),
    ("activo", 9, "", "", "", "", "string", "fn_transform_ByteMagic(flag_activo,$F)"),
    ("estado", 10, "", "", "", "T", "string",
     "fn_transform_Case(estado,001|002->Activo,003->Inactivo)"),
    ("linea_flag", 11, "", "", "", "", "string",
     "fn_transform_Case_with_default(linea&familia,03&003->T,$F)"),
    ("importe", 12, "", "", "", "", "numeric(13,2)", "fn_transform_Numeric(importe)"),
    ("tasa", 13, "", "", "", "", "double", "fn_transform_Double(tasa)"),
    ("es_valido", 14, "", "", "", "", "boolean", "fn_transform_Boolean(es_valido)"),
    ("nombre_completo", 15, "", "", "", "", "string", "fn_transform_Concatenate(nombre,apellido)"),
    ("nombre_ws", 16, "", "", "", "", "string", "fn_transform_Concatenate_ws(nombre,apellido,-)"),
    ("periodo_fecha", 17, "", "", "", "", "string",
     "fn_transform_Date_to_String(fn_transform_DateMagic(fecha_magic,yyyy-MM-dd),yyyyMM)"),
    ("fecha_actualizacion", 18, "T", "", "", "", "timestamp",
     "fn_transform_Datetime(fecha_actualizacion)"),
    ("extra", 20, "", "", "", "", "string", "fn_transform_Unknown(nombre)"),
]

F1_RAW = [
    "venta_id", "cliente_cod", "fecha_magic", "fecha_str", "hora", "fecha_hora",
    "mescuota", "anyocuota", "flag_activo", "estado", "linea", "familia",
    "importe", "tasa", "es_valido", "nombre", "apellido", "fecha_actualizacion",
]

# narrow F2 configs: a key, the watermark column, one or two light
# transforms and a partition column fixed per key (its creation day)
F2_COLUMNS = {
    "eventos": [
        ("evento_id", 1, "", "T", "", "", "bigint", "evento_id"),
        ("fechaaccion", 2, "T", "", "", "", "timestamp", "fechaaccion"),
        ("payload", 3, "", "", "", "", "string", "fn_transform_ClearString(payload,$-)"),
        ("periodo", 4, "", "", "", "", "int", "periodo"),
        ("fecha", 5, "", "", "", "T", "date", "fn_transform_DateMagic(fecha_aje,yyyy-MM-dd)"),
    ],
    "ordenes": [
        ("orden_id", 1, "", "T", "", "", "bigint", "orden_id"),
        ("fechaaccion", 2, "T", "", "", "", "timestamp", "fechaaccion"),
        ("estado", 3, "", "", "", "", "string",
         "fn_transform_Case_with_default(estado,O->Open,F|P->Closed,$NA)"),
        ("total", 4, "", "", "", "", "numeric(12,2)", "fn_transform_Numeric(total)"),
        ("fecha", 5, "", "", "", "T", "date", "fn_transform_DateMagic(fecha_aje,yyyy-MM-dd)"),
    ],
}
F2_KEY = {"eventos": "evento_id", "ordenes": "orden_id"}


def _columns_rows(table: str, columns) -> list[str]:
    return [
        f"{n};{i};{fd};{isid};{ob};{part};{typ};{table};{tr}"
        for n, i, fd, isid, ob, part, typ, tr in columns
    ]


def _table_row(table: str, source: str, load_type: str, process_id: str, key: str) -> str:
    return (
        f"*;{load_type};NONE;;-2;0;;;;{key};;{process_id};dbo;{source};m;"
        f"{table};2;A;;"
    )


def write_config(directory: str, tables: list[tuple[str, str, str, str, str, list]]) -> tuple[str, str]:
    """tables.csv / columns.csv (latin-1, ``;``-delimited, the reference
    format) for ``(stage_table, source_table, load_type, process_id, key,
    columns)`` entries. Returns both paths."""
    os.makedirs(directory, exist_ok=True)
    t_lines = [TABLES_HEADER]
    c_lines = [COLUMNS_HEADER]
    for table, source, load_type, pid, key, cols in tables:
        t_lines.append(_table_row(table, source, load_type, pid, key))
        c_lines.extend(_columns_rows(table, cols))
    t_path = os.path.join(directory, "tables.csv")
    c_path = os.path.join(directory, "columns.csv")
    for path, lines in ((t_path, t_lines), (c_path, c_lines)):
        with open(path, "w", encoding="latin-1") as fh:
            fh.write("\n".join(lines) + "\n")
    return t_path, c_path


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _pick(rng, values, n, p=None):
    return [values[i] for i in rng.choice(len(values), size=n, p=p)]


def _magic(day: dt.date) -> int:
    return (day - EPOCH_1900).days + MAGIC_OFFSET


# -- F1: all-string transform table -----------------------------------------------


def f1_table(rng: np.random.Generator, n_ids: int, id_base: int) -> pa.Table:
    """One F1 raw table: ``n_ids`` ids with 1-3 versions each (distinct
    update timestamps), plus ~2% exact full-row duplicates."""
    versions = rng.integers(1, 4, size=n_ids)
    ids = np.repeat(np.arange(id_base, id_base + n_ids), versions)
    n = len(ids)
    base = dt.datetime(2024, 1, 1)
    # per-id first update time, then +1..3 h per later version: distinct
    first = rng.integers(0, 300 * 86400, size=n_ids)
    step = np.concatenate([np.arange(v) for v in versions])
    upd = np.repeat(first, versions) + step * 3600 + rng.integers(0, 3599, size=n)
    upd_s = [(base + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S") for s in upd]

    days = rng.integers(0, 365 * 25, size=n)
    dates = [dt.date(2000, 1, 1) + dt.timedelta(days=int(d)) for d in days]
    kind = rng.random(n)
    fecha_magic = [
        None if k < 0.04
        else "693597" if k < 0.06
        else str(rng.integers(1000, 100000)) if k < 0.09
        else d.isoformat() if k < 0.15
        else "junk" if k < 0.17
        else str(_magic(d))
        for k, d in zip(kind, dates)
    ]
    k2 = rng.random(n)
    fecha_str = [
        None if k < 0.05 else "2024-13-40" if k < 0.09 else "n/a" if k < 0.11
        else d.isoformat()
        for k, d in zip(k2, dates)
    ]
    secs = rng.integers(0, 86400, size=n)
    k3 = rng.random(n)
    hora = [
        None if k < 0.05
        else f"{s // 3600:02d}{s % 3600 // 60:02d}{s % 60:02d}".lstrip("0") or "0"
        if k < 0.3
        else f"{s // 3600:02d}{s % 3600 // 60:02d}{s % 60:02d}"
        for k, s in zip(k3, secs)
    ]
    k4 = rng.random(n)
    fecha_hora = [
        None if k < 0.05 else "bad" if k < 0.08
        else f"{d.isoformat()} {s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"
        for k, d, s in zip(k4, dates, secs)
    ]
    mes = [None if x == 0 else str(x) for x in rng.integers(0, 13, size=n)]
    anyo = [None if x == 2019 else str(x) for x in rng.integers(2019, 2027, size=n)]
    codes = [f"{i:03d}" for i in range(1, 21)]
    cliente = _pick(
        rng, codes + ["  007 ", None, "", "None", "NULL", "null"], n
    )
    flag = _pick(rng, ["T", "F", "0x54", "0x46", "84", "70", None, "X"], n)
    estado = _pick(rng, ["001", "002", "003", "999"], n)
    linea = _pick(rng, ["03", "04"], n)
    familia = _pick(rng, ["003", "004"], n)
    cents = rng.integers(-5_000_000, 50_000_000, size=n)
    k5 = rng.random(n)
    importe = [
        None if k < 0.04 else "n/a" if k < 0.06 else f"{c / 100:.2f}"
        for k, c in zip(k5, cents)
    ]
    mant = rng.random(n) * 10
    expo = rng.integers(-4, 5, size=n)
    k6 = rng.random(n)
    tasa = [
        None if k < 0.04 else f"{m:.4f}E{e}" if k < 0.3 else f"{m * 10.0 ** e:.6g}"
        for k, m, e in zip(k6, mant, expo)
    ]
    es_valido = _pick(rng, ["true", "false", "1", "0", None], n)
    first_names = ["Ana", "Luis", " Eva ", "Jose  ", None, "", "Maria"]
    last_names = ["Quispe", " Huaman", "Rojas ", None, "Flores"]
    nombre = _pick(rng, first_names, n)
    apellido = _pick(rng, last_names, n)

    cols = {
        "venta_id": [str(i) for i in ids],
        "cliente_cod": cliente,
        "fecha_magic": fecha_magic,
        "fecha_str": fecha_str,
        "hora": hora,
        "fecha_hora": fecha_hora,
        "mescuota": mes,
        "anyocuota": anyo,
        "flag_activo": flag,
        "estado": estado,
        "linea": linea,
        "familia": familia,
        "importe": importe,
        "tasa": tasa,
        "es_valido": es_valido,
        "nombre": nombre,
        "apellido": apellido,
        "fecha_actualizacion": upd_s,
    }
    table = pa.table({c: pa.array(cols[c], pa.string()) for c in F1_RAW})
    dup = np.flatnonzero(rng.random(n) < 0.02)
    order = np.concatenate([np.arange(n), dup])
    rng.shuffle(order)
    return table.take(pa.array(order))


def full_reload_inputs(root: str, seed: int, *, groups: int, tables_per_group: int, n_ids: int) -> dict:
    """Raw source files + config for ``groups`` PROCESS_ID groups."""
    rng = np.random.default_rng([seed, 1])
    out = {"groups": [], "bytes": {}, "rows": {}, "paths": {}}
    entries = []
    for g in range(groups):
        names = []
        for t in range(tables_per_group):
            name = f"ventas_g{g}_t{t}"
            table = f1_table(rng, n_ids, id_base=1 + 10_000_000 * t)
            path = os.path.join(root, "source", name, "part-0.parquet")
            out["bytes"][name] = _write(table, path)
            out["rows"][name] = table.num_rows
            out["paths"][name] = path
            entries.append((name, f"raw_{name}", "full", str(10 * (g + 1)), "venta_id", F1_COLUMNS))
            names.append(name)
        out["groups"].append(names)
    out["tables_csv"], out["columns_csv"] = write_config(os.path.join(root, "config"), entries)
    return out


# -- F2: incremental daily batches ----------------------------------------------


def _f2_rows(kind: str, rng, keys, created_days, ts_us):
    n = len(keys)
    day0 = dt.date(2024, 1, 1)
    created = [day0 + dt.timedelta(days=int(d)) for d in created_days]
    cols = {
        F2_KEY[kind]: pa.array(keys, pa.int64()),
        "fechaaccion": pa.array(ts_us, pa.timestamp("us")),
        "periodo": pa.array([c.year * 100 + c.month for c in created], pa.int32()),
        "fecha_aje": pa.array([_magic(c) for c in created], pa.int32()),
    }
    if kind == "eventos":
        payload = _pick(rng, ["click", "view", " buy ", "None", None, "", "share"], n)
        cols["payload"] = pa.array(payload, pa.string())
    else:
        cols["estado"] = pa.array(_pick(rng, ["O", "F", "P", "X"], n), pa.string())
        cents = rng.integers(100, 10_000_000, size=n)
        cols["total"] = pa.array([f"{c / 100:.2f}" for c in cents], pa.string())
    return pa.table(cols)


def incremental_inputs(root: str, seed: int, *, tables: dict[str, str], snapshot_days: int,
                       batches: int, new_per_day: int, late_share: float,
                       reextract_share: float, trailing_days: int) -> dict:
    """Per table of ``tables`` (name -> F2 kind, ``eventos`` or
    ``ordenes``): an initial snapshot (days ``-snapshot_days..-1``) and
    ``batches`` daily batches. A batch holds the day's new keys, late
    updates (fresh ``fechaaccion``) to keys created in the trailing
    window, and unchanged re-extracts of that window whose
    ``fechaaccion`` is at or below the watermark. About 5% of batches are
    empty and 5% hold only re-extracts."""
    rng = np.random.default_rng([seed, 2])
    out = {"tables": {}, "tables_csv": None, "columns_csv": None}
    entries = []
    for ti, (table, kind) in enumerate(tables.items()):
        key_base = (1 << 31) + ti * 10**9  # keys above 2^31: bigint watermark sniffing
        next_key = key_base
        clock = 0  # microseconds since 2024-01-01, strictly increasing
        day_us = 86_400 * 10**6
        # latest row per key as the generator knows it: key -> (created_day, ts)
        rows_by_day: dict[int, list[int]] = {}
        created_day: dict[int, int] = {}
        latest_ts: dict[int, int] = {}

        def fresh(day, n):
            nonlocal next_key, clock
            keys = list(range(next_key, next_key + n))
            next_key += n
            steps = rng.integers(1, 50_000, size=n)
            start = max(clock + int(steps[0]), day * day_us)
            ts = (start + np.cumsum(steps) - steps[0]).tolist()
            clock = ts[-1]
            for k, t in zip(keys, ts):
                latest_ts[k] = t
                created_day[k] = day
            rows_by_day.setdefault(day, []).extend(keys)
            return keys, [day] * n, ts

        # naive timestamps as microseconds since 1970-01-01
        base_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
        to_ts = lambda us: [base_us + u for u in us]  # noqa: E731
        snap_keys, snap_days, snap_ts = [], [], []
        for d in range(-snapshot_days, 0):
            k, cd, ts = fresh(d + snapshot_days, new_per_day)
            snap_keys += k
            snap_days += cd
            snap_ts += ts
        snap = _f2_rows(kind, rng, snap_keys, snap_days, to_ts(snap_ts))
        tdir = os.path.join(root, "source", table)
        snap_path = os.path.join(tdir, "snapshot.parquet")
        info = {"kind": kind, "snapshot": snap_path, "snapshot_bytes": _write(snap, snap_path),
                "batches": [], "batch_bytes": [], "batch_rows": []}
        for b in range(batches):
            day = snapshot_days + b
            # fixed cadence, staggered per table, so every run of the same
            # length sees the same batch sizes whatever the seed
            slot = (b + 5 * ti) % 20
            keys, cdays, ts = [], [], []
            if slot != 19:
                window = [k for d in range(day - trailing_days, day) for k in rows_by_day.get(d, ())]
                # unchanged re-extract: same fechaaccion as already landed
                if window:
                    pick = rng.choice(len(window), size=int(len(window) * reextract_share), replace=False)
                    for i in pick:
                        k = window[int(i)]
                        keys.append(k)
                        cdays.append(created_day[k])
                        ts.append(latest_ts[k])
                if slot != 9:
                    k, cd, t = fresh(day, new_per_day)
                    keys += k
                    cdays += cd
                    ts += t
                    if window:
                        late = rng.choice(len(window), size=int(len(window) * late_share), replace=False)
                        for i in late:
                            kk = window[int(i)]
                            clock += int(rng.integers(1, 50_000))
                            latest_ts[kk] = clock
                            keys.append(kk)
                            cdays.append(created_day[kk])
                            ts.append(clock)
            batch = _f2_rows(kind, rng, keys, cdays, to_ts(ts))
            path = os.path.join(tdir, f"batch-{b:04d}.parquet")
            info["batch_bytes"].append(_write(batch, path))
            info["batch_rows"].append(batch.num_rows)
            info["batches"].append(path)
        out["tables"][table] = info
        entries.append((f"stg_{table}", table, "incremental", "50", F2_KEY[kind], F2_COLUMNS[kind]))
    out["tables_csv"], out["columns_csv"] = write_config(os.path.join(root, "config"), entries)
    return out


# -- versioned table: commits and the read stream -----------------------------------

VERSIONED_GROUPS = 16
BASE_FILES = 8  # the base overwrite is written as this many files, each a key range
RANGE_KEYS = 1000  # keys per range read
# the read mix, 40% point lookups / 25% range reads / 20% time travel /
# 15% aggregate scans, in a fixed order so that every run of the same
# length sees the same mix; the seed picks keys, ranges and versions
READ_MIX = (
    "lookup", "range", "lookup", "version", "lookup", "range", "aggregate",
    "lookup", "version", "range", "lookup", "aggregate", "lookup", "range",
    "version", "lookup", "aggregate", "range", "lookup", "version",
)


def _versioned_rows(keys, vals, ts, rng) -> pa.Table:
    keys = np.asarray(keys, dtype=np.int64)
    return pa.table({
        "k": pa.array(keys, pa.int64()),
        "grp": pa.array((keys % VERSIONED_GROUPS).astype(np.int32), pa.int32()),
        "v": pa.array(np.asarray(vals, dtype=np.int64), pa.int64()),
        "ts": pa.array(np.asarray(ts, dtype=np.int64), pa.int64()),
        "payload": pa.array(_pick(rng, ["a", "bb", "ccc", "dddd"], len(keys)), pa.string()),
    })


def versioned_inputs(root: str, seed: int, *, base_keys: int, setup_commits: int,
                     append_keys: int, merge_keys: int, run_commits: int, reads: int) -> dict:
    """Commit batches (set-up and in-run) and a seeded read stream.

    Set-up: one overwrite of ``base_keys`` keys, then ``setup_commits``
    appends of new keys. In-run commits are merges with
    ``resolve_by=["ts"]``: each carries two rows for some keys (the
    later ``ts`` wins) and a few new keys; their update windows stay
    inside one base file. Reads: point lookups, range
    reads, whole-table reads at a version drawn over the full history,
    and projected aggregate scans."""
    rng = np.random.default_rng([seed, 3])
    ts = 0
    next_key = base_keys
    commits = []

    def write(name, table):
        path = os.path.join(root, "source", "versioned", f"{name}.parquet")
        return {"path": path, "bytes": _write(table, path), "rows": table.num_rows}

    base = _versioned_rows(np.arange(base_keys), rng.integers(0, 1000, base_keys), np.zeros(base_keys), rng)
    # one file per key range, so the base files' bounds are exact (a
    # sampled range partitioning could let a merge's window straddle two)
    span = base_keys // BASE_FILES
    parts = [write(f"c0000/part-{b}", base.slice(b * span, span)) for b in range(BASE_FILES)]
    commits.append({
        "op": "overwrite", "path": os.path.dirname(parts[0]["path"]),
        "parts": [p["path"] for p in parts],
        "bytes": sum(p["bytes"] for p in parts), "rows": base.num_rows,
    })
    for c in range(1, setup_commits + 1):
        ts += 1
        keys = np.arange(next_key, next_key + append_keys)
        next_key += append_keys
        t = _versioned_rows(keys, rng.integers(0, 1000, len(keys)), np.full(len(keys), ts), rng)
        commits.append({"op": "append", **write(f"c{c:04d}", t)})
    run = []
    for c in range(run_commits):
        ts += 2
        # the update window sits inside one base file's key range, clear of
        # its edges, and the merges visit the base files in turn, so the
        # files a merge rewrites, and the bytes it writes, do not depend
        # on the seed
        lo = (c % BASE_FILES) * span + int(
            rng.integers(span // 10, span - span // 10 - 2 * merge_keys)
        )
        upd = np.sort(rng.choice(np.arange(lo, lo + 2 * merge_keys), merge_keys, replace=False))
        new = np.arange(next_key, next_key + merge_keys // 10)
        next_key += len(new)
        twice = upd[: len(upd) // 4]
        keys = np.concatenate([upd, new, twice])
        stamps = np.concatenate([np.full(len(upd) + len(new), ts), np.full(len(twice), ts - 1)])
        t = _versioned_rows(keys, rng.integers(0, 1000, len(keys)), stamps, rng)
        run.append({"op": "merge", **write(f"r{c:04d}", t)})
    stream = []
    for r in range(reads):
        kind = READ_MIX[r % len(READ_MIX)]
        if kind == "lookup":
            stream.append(("lookup", int(rng.integers(0, base_keys))))
        elif kind == "range":
            lo = int(rng.integers(0, base_keys - RANGE_KEYS))
            stream.append(("range", lo, lo + RANGE_KEYS - 1))
        elif kind == "version":
            # spread evenly over the history, the same for every seed
            stream.append(("version", (r * 0.6180339887) % 1.0))
        else:
            stream.append(("aggregate",))
    return {"setup": commits, "run": run, "reads": stream}

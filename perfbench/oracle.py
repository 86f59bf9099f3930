"""Output checks in DuckDB, outside the timed region.

Each check compares a row count and an order-independent checksum
(the sum of a hash over every column rendered as text) between the
stage table, read back with DuckDB, and DuckDB SQL over the same
generated input. The SQL re-states the ``fn_transform_*`` semantics
for the generated value domains.
"""

from __future__ import annotations

import glob
import os

import duckdb

F1_OUT = [
    "venta_id", "cliente", "fecha", "fecha_doc", "fecha_hora_magic", "fecha_hora",
    "periodo", "activo", "estado", "linea_flag", "importe", "tasa", "es_valido",
    "nombre_completo", "nombre_ws", "periodo_fecha", "fecha_actualizacion", "extra",
]

_DATE_MAGIC = """CASE WHEN fecha_magic IS NULL THEN NULL
     WHEN TRY_CAST(fecha_magic AS INTEGER) > 100000
       THEN CAST(DATE '1900-01-01' + (TRY_CAST(fecha_magic AS INTEGER) - 693596) AS DATE)
     ELSE CAST(TRY_STRPTIME(fecha_magic, '%Y-%m-%d') AS DATE) END"""

_HHMMSS = "lpad(hora, 6, '0')"

F1_SQL = f"""
WITH t AS (
  SELECT
    TRY_CAST(venta_id AS INTEGER) AS venta_id,
    CASE WHEN cliente_cod IS NULL OR trim(cliente_cod) IN ('', 'None', 'NULL', 'null')
         THEN '000' ELSE trim(cliente_cod) END AS cliente,
    {_DATE_MAGIC} AS fecha,
    CASE WHEN fecha_str IS NULL THEN DATE '1900-01-01'
         ELSE coalesce(CAST(TRY_STRPTIME(fecha_str, '%Y-%m-%d') AS DATE), DATE '1900-01-01')
    END AS fecha_doc,
    CASE WHEN hora IS NULL THEN NULL ELSE TRY_STRPTIME(
        strftime({_DATE_MAGIC}, '%Y-%m-%d') || ' ' || substr({_HHMMSS}, 1, 2) || ':'
        || substr({_HHMMSS}, 3, 2) || ':' || substr({_HHMMSS}, 5, 2),
        '%Y-%m-%d %H:%M:%S') END AS fecha_hora_magic,
    TRY_CAST(fecha_hora AS TIMESTAMP) AS fecha_hora,
    CASE WHEN mescuota IS NULL OR anyocuota IS NULL THEN '190001'
         ELSE anyocuota || lpad(mescuota, 2, '0') END AS periodo,
    CASE WHEN flag_activo IS NULL THEN 'F'
         WHEN flag_activo IN ('T', '0x54') THEN 'T'
         WHEN flag_activo IN ('F', '0x46') THEN 'F'
         WHEN TRY_CAST(flag_activo AS INTEGER) = 84 THEN 'T'
         ELSE 'F' END AS activo,
    CASE WHEN estado IN ('001', '002') THEN 'Activo'
         WHEN estado = '003' THEN 'Inactivo' ELSE estado END AS estado,
    CASE WHEN linea = '03' AND familia = '003' THEN 'T' ELSE 'F' END AS linea_flag,
    TRY_CAST(importe AS DECIMAL(13, 2)) AS importe,
    TRY_CAST(tasa AS DOUBLE) AS tasa,
    CASE WHEN es_valido IN ('true', '1') THEN true
         WHEN es_valido IN ('false', '0') THEN false END AS es_valido,
    coalesce(trim(nombre), '') || '|' || coalesce(trim(apellido), '') AS nombre_completo,
    coalesce(trim(nombre), '') || '-' || coalesce(trim(apellido), '') AS nombre_ws,
    strftime({_DATE_MAGIC}, '%Y%m') AS periodo_fecha,
    TRY_CAST(fecha_actualizacion AS TIMESTAMP) AS fecha_actualizacion,
    CAST(NULL AS VARCHAR) AS extra
  FROM raw
)
SELECT * FROM t
QUALIFY row_number() OVER (PARTITION BY venta_id ORDER BY fecha_actualizacion DESC) = 1
"""


def f2_sql(kind: str) -> str:
    """Transforms of the narrow F2 configs (see ``gen.F2_COLUMNS``)."""
    fecha = "CAST(DATE '1900-01-01' + (fecha_aje - 693596) AS DATE) AS fecha"
    if kind == "eventos":
        return f"""SELECT evento_id, fechaaccion,
            CASE WHEN payload IS NULL OR trim(payload) IN ('', 'None', 'NULL', 'null')
                 THEN '-' ELSE trim(payload) END AS payload,
            periodo, {fecha} FROM landed"""
    return f"""SELECT orden_id, fechaaccion,
        CASE WHEN estado = 'O' THEN 'Open' WHEN estado IN ('F', 'P') THEN 'Closed'
             ELSE 'NA' END AS estado,
        TRY_CAST(total AS DECIMAL(12, 2)) AS total, {fecha} FROM landed"""


F2_OUT = {
    "eventos": ["evento_id", "fechaaccion", "payload", "periodo", "fecha"],
    "ordenes": ["orden_id", "fechaaccion", "estado", "total", "fecha"],
}


def _fingerprint(con, relation: str, columns: list[str]) -> tuple[int, int]:
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in columns)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({cols})), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def _stage_relation(stage_dir: str) -> str:
    files = sorted(glob.glob(os.path.join(stage_dir, "**", "*.parquet"), recursive=True))
    if not files:
        return "(SELECT NULL WHERE false)"
    listing = ", ".join(f"'{f}'" for f in files)
    return f"read_parquet([{listing}], hive_partitioning = true)"


def check_full_reload(raw_path: str, stage_dir: str) -> tuple[bool, str]:
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW raw AS SELECT * FROM read_parquet('{raw_path}')")
        con.execute(f"CREATE VIEW expected AS {F1_SQL}")
        con.execute(f"CREATE VIEW stage AS SELECT * FROM {_stage_relation(stage_dir)}")
        want = _fingerprint(con, "expected", F1_OUT)
        got = _fingerprint(con, "stage", F1_OUT)
        if want == got:
            return True, ""
        return False, f"rows/checksum {got} != expected {want}: " + _diff(con, F1_OUT)
    finally:
        con.close()


def check_incremental(kind: str, snapshot: str, batches: list[str], stage_dir: str) -> tuple[bool, str]:
    """The stage must equal the latest row per key over every row that
    passed the watermark: a batch lands only its rows strictly above the
    highest ``fechaaccion`` landed before it."""
    key = F2_OUT[kind][0]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE landed AS SELECT * FROM read_parquet('{snapshot}')")
        for path in batches:
            con.execute(
                f"INSERT INTO landed SELECT * FROM read_parquet('{path}') "
                "WHERE fechaaccion > (SELECT max(fechaaccion) FROM landed)"
            )
        con.execute(
            f"CREATE VIEW expected AS SELECT * FROM ({f2_sql(kind)}) "
            f"QUALIFY row_number() OVER (PARTITION BY {key} ORDER BY fechaaccion DESC) = 1"
        )
        con.execute(f"CREATE VIEW stage AS SELECT * FROM {_stage_relation(stage_dir)}")
        want = _fingerprint(con, "expected", F2_OUT[kind])
        got = _fingerprint(con, "stage", F2_OUT[kind])
        if want == got:
            return True, ""
        return False, f"rows/checksum {got} != expected {want}: " + _diff(con, F2_OUT[kind])
    finally:
        con.close()


def _diff(con, columns: list[str]) -> str:
    cols = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in columns)
    extra = con.execute(
        f"SELECT {cols} FROM stage EXCEPT ALL SELECT {cols} FROM expected LIMIT 2"
    ).fetchall()
    missing = con.execute(
        f"SELECT {cols} FROM expected EXCEPT ALL SELECT {cols} FROM stage LIMIT 2"
    ).fetchall()
    return f"unexpected {extra}; missing {missing}"

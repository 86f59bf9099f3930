"""Two-phase watermark (high-water-mark) store.

Replaces the reference's DynamoDB watermark table
(``utils/extract_data_v2/load/watermark_storage/dynamodb_watermark_storage.py:23-97``)
and its transactional PENDING -> CONFIRMED/ROLLBACK wrapper
(``transactional_watermark_storage.py:9-178``) with a small JSON journal
keyed ``project#table#column``, preserving:

- typed values (int/float/datetime/str round-trip losslessly, so the
  value-sniffing the reference does at ``incremental.py:368-393`` is
  unnecessary);
- the 2-phase commit: ``begin()`` writes PENDING, ``confirm()`` flips to
  CONFIRMED, ``rollback()`` restores the previous confirmed value. A
  crash between extract and confirm leaves a PENDING record that reads
  fall through, re-extracting the window — the same at-least-once
  semantics as the reference.

The journal is tiny driver-side state (one record per table+column), so
a JSON file is appropriate at any data scale; swap the backend for a
Delta table or DynamoDB by reimplementing ``_load``/``_save``.

Every read-modify-write (``begin``/``confirm``/``rollback``/``reset``)
holds an exclusive ``flock`` on the sidecar ``<path>.lock``, so tables
that share one journal, in threads or in processes, never lose each
other's updates. Reads take no lock: ``_save`` replaces the journal
atomically.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import fcntl
import json
import os
import tempfile


def _encode(value):
    if isinstance(value, dt.datetime):
        return {"t": "datetime", "v": value.isoformat()}
    if isinstance(value, dt.date):
        return {"t": "date", "v": value.isoformat()}
    if isinstance(value, bool):
        return {"t": "bool", "v": value}
    if isinstance(value, int):
        return {"t": "int", "v": value}
    if isinstance(value, float):
        return {"t": "float", "v": value}
    return {"t": "str", "v": str(value)}


def _decode(obj):
    if obj is None:
        return None
    t, v = obj["t"], obj["v"]
    if t == "datetime":
        return dt.datetime.fromisoformat(v)
    if t == "date":
        return dt.date.fromisoformat(v)
    return {"bool": bool, "int": int, "float": float, "str": str}[t](v)


class WatermarkStore:
    def __init__(self, path: str, project: str = "default"):
        self.path = os.fspath(path)
        self.project = project

    def _key(self, table: str, column: str) -> str:
        return f"{self.project}#{table}#{column}"

    def _load(self) -> dict:
        if not os.path.exists(self.path):
            return {}
        with open(self.path, encoding="utf-8") as fh:
            return json.load(fh)

    @contextlib.contextmanager
    def _locked(self):
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path + ".lock", "a") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            yield

    def _save(self, data: dict) -> None:
        directory = os.path.dirname(self.path) or "."
        fd, tmp = tempfile.mkstemp(dir=directory, suffix=".wm")
        try:
            with os.fdopen(fd, "w", encoding="utf-8") as fh:
                json.dump(data, fh)
            os.replace(tmp, self.path)  # atomic on POSIX
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)

    # -- reads ---------------------------------------------------------------

    def get(self, table: str, column: str):
        """Last CONFIRMED watermark value (None if never confirmed)."""
        rec = self._load().get(self._key(table, column))
        if not rec or rec.get("status") != "CONFIRMED":
            rec = (rec or {}).get("previous")
        return _decode(rec.get("value")) if rec else None

    def status(self, table: str, column: str) -> str | None:
        rec = self._load().get(self._key(table, column))
        return rec.get("status") if rec else None

    # -- 2-phase writes --------------------------------------------------------

    def begin(self, table: str, column: str, value) -> None:
        """Record the new high-water mark as PENDING."""
        with self._locked():
            data = self._load()
            key = self._key(table, column)
            prev = data.get(key)
            prev_confirmed = None
            if prev:
                prev_confirmed = prev if prev.get("status") == "CONFIRMED" else prev.get("previous")
                if prev_confirmed:
                    prev_confirmed = {
                        "status": "CONFIRMED",
                        "value": prev_confirmed["value"],
                        "updated_at": prev_confirmed.get("updated_at"),
                    }
            data[key] = {
                "status": "PENDING",
                "value": _encode(value),
                "updated_at": dt.datetime.now(dt.timezone.utc).isoformat(),
                "previous": prev_confirmed,
            }
            self._save(data)

    def confirm(self, table: str, column: str) -> None:
        with self._locked():
            data = self._load()
            rec = data.get(self._key(table, column))
            if rec and rec.get("status") == "PENDING":
                rec["status"] = "CONFIRMED"
                self._save(data)

    def rollback(self, table: str, column: str) -> None:
        with self._locked():
            data = self._load()
            key = self._key(table, column)
            rec = data.get(key)
            if rec and rec.get("status") == "PENDING":
                if rec.get("previous"):
                    data[key] = rec["previous"]
                else:
                    del data[key]
                self._save(data)

    def reset(self, table: str, column: str) -> None:
        """Delete the watermark (RESET load mode, ``load_mode.py:4-26``)."""
        with self._locked():
            data = self._load()
            data.pop(self._key(table, column), None)
            self._save(data)

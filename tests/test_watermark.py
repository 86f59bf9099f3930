import datetime as dt
import os

from cdk_datalake_ingest_upeu_spark.plans.watermark import WatermarkStore


def store(tmp_path):
    return WatermarkStore(os.path.join(tmp_path, "wm.json"), project="p")


def test_two_phase_commit(tmp_path):
    s = store(tmp_path)
    assert s.get("t", "c") is None
    s.begin("t", "c", 100)
    # pending values are not readable
    assert s.get("t", "c") is None
    assert s.status("t", "c") == "PENDING"
    s.confirm("t", "c")
    assert s.get("t", "c") == 100


def test_rollback_restores_previous(tmp_path):
    s = store(tmp_path)
    s.begin("t", "c", 100)
    s.confirm("t", "c")
    s.begin("t", "c", 200)
    s.rollback("t", "c")
    assert s.get("t", "c") == 100
    assert s.status("t", "c") == "CONFIRMED"


def test_rollback_without_previous_clears(tmp_path):
    s = store(tmp_path)
    s.begin("t", "c", 100)
    s.rollback("t", "c")
    assert s.get("t", "c") is None
    assert s.status("t", "c") is None


def test_typed_roundtrip(tmp_path):
    s = store(tmp_path)
    stamp = dt.datetime(2025, 1, 1, 12, 30, 45, 123456)
    for value in (42, 2**40, 1.5, "abc", stamp, dt.date(2024, 2, 29)):
        s.begin("t", "c", value)
        s.confirm("t", "c")
        got = s.get("t", "c")
        assert got == value and type(got) is type(value)


def test_reset(tmp_path):
    s = store(tmp_path)
    s.begin("t", "c", 1)
    s.confirm("t", "c")
    s.reset("t", "c")
    assert s.get("t", "c") is None


def test_keys_are_scoped(tmp_path):
    s = store(tmp_path)
    s.begin("t1", "c", 1)
    s.confirm("t1", "c")
    assert s.get("t2", "c") is None
    assert s.get("t1", "other") is None


def test_concurrent_writers_keep_every_update(tmp_path):
    """Threads sharing one journal, each on its own key: every key ends
    CONFIRMED at its last value (no read-modify-write is lost)."""
    import threading

    s = store(tmp_path)
    n_threads, n_calls = 4, 100

    def work(i):
        for v in range(n_calls):
            s.begin(f"t{i}", "c", v)
            s.confirm(f"t{i}", "c")

    threads = [threading.Thread(target=work, args=(i,)) for i in range(n_threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for i in range(n_threads):
        assert s.status(f"t{i}", "c") == "CONFIRMED"
        assert s.get(f"t{i}", "c") == n_calls - 1

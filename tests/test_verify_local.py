"""``tools/verify_local.py``'s per-query time limit: a DuckDB oracle that
runs past it is interrupted and the check moves on."""

from __future__ import annotations

import importlib.util
import time
from pathlib import Path

import duckdb
import pytest

_spec = importlib.util.spec_from_file_location(
    "verify_local", Path(__file__).resolve().parent.parent / "tools" / "verify_local.py")
verify_local = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(verify_local)


def test_deadline_interrupts_a_long_duckdb_query():
    con = duckdb.connect()
    t = time.perf_counter()
    with pytest.raises(duckdb.InterruptException):
        with verify_local.Deadline(0.3, con.interrupt) as dl:
            con.sql("SELECT count(*) FROM range(100000000000) a").fetchall()
    assert dl.fired and time.perf_counter() - t < 30
    # the connection stays usable for the next query
    with verify_local.Deadline(30, con.interrupt) as dl:
        assert con.sql("SELECT 42").fetchall() == [(42,)]
    assert not dl.fired

"""Shared fixtures: one local SparkSession per test run (hermetic —
replaces the reference's live-SQL-Server dependency, SURVEY.md §5) —
and the host's load at the start and end of the run in the output."""

from __future__ import annotations

import contextlib
import gc
import os
import shutil
import uuid

import pytest

from mssql_dataframe_spark import SparkEngine, connect

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SCRATCH = os.path.join(os.path.dirname(__file__), "..", ".spark_tables", "pytest")

#: (jiffies, line) read when the session starts
_HOST_AT_START = pytest.StashKey[tuple]()


def _cpu_jiffies():
    """user..steal jiffies from the aggregate ``cpu`` line of
    /proc/stat, or None where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def _host_load(since=None) -> str:
    """cpus, load averages and the CPU steal share (since boot, or
    since the ``since`` jiffies snapshot) — a slow run shows whether
    the host was contended."""
    now = _cpu_jiffies()
    steal = "n/a"
    if now is not None:
        d = [a - b for a, b in zip(now, since)] if since else now
        if sum(d) > 0:
            steal = f"{100.0 * d[7] / sum(d):.1f}%"
    try:
        load = "/".join(f"{x:.2f}" for x in os.getloadavg())
    except OSError:
        load = "n/a"
    return f"cpus={os.cpu_count()} loadavg(1/5/15m)={load} steal={steal}"


def pytest_sessionstart(session):
    session.config.stash[_HOST_AT_START] = (
        _cpu_jiffies(),
        f"host load at start: {_host_load()} (steal since boot)",
    )


def pytest_report_header(config):
    return config.stash[_HOST_AT_START][1]


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    jiffies, line = config.stash[_HOST_AT_START]
    # the start line again: ``-q`` runs print no header
    terminalreporter.write_line(line)
    terminalreporter.write_line(
        f"host load at end: {_host_load(jiffies)} (steal during the run)"
    )


@pytest.fixture(scope="session")
def spark():
    s = connect(app_name="pytest", shuffle_partitions=8)
    yield s


@pytest.fixture()
def engine(spark):
    root = os.path.join(SCRATCH, uuid.uuid4().hex)
    eng = SparkEngine(spark=spark, store_root=root)
    yield eng
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture()
def engine_ts(spark):
    root = os.path.join(SCRATCH, uuid.uuid4().hex)
    eng = SparkEngine(spark=spark, store_root=root, include_metadata_timestamps=True)
    yield eng
    shutil.rmtree(root, ignore_errors=True)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@contextlib.contextmanager
def _round_trips():
    """py4j commands sent while the block runs, counted by wrapping
    ``GatewayClient.send_command`` (as perfbench's tracer does).
    Memory commands are left out: they detach objects of EARLIER calls
    whenever Python frees them, so they land in whichever call runs
    next."""
    import py4j.java_gateway as jg

    orig = jg.GatewayClient.send_command
    sent = []

    def counting(client, command, *a, **kw):
        if not command.startswith("m"):
            sent.append(command)
        return orig(client, command, *a, **kw)

    gc.collect()
    gc.disable()
    jg.GatewayClient.send_command = counting
    try:
        yield sent
    finally:
        jg.GatewayClient.send_command = orig
        gc.enable()


@pytest.fixture()
def round_trips():
    """``with round_trips() as sent:`` collects the py4j commands the
    block sends (memory commands left out)."""
    return _round_trips

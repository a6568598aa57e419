"""Service mode (r3 VERDICT item 5): a long-lived context daemon + thin
CLI client, so repeated `kiara run` skips SparkSession startup and shares
one job cache.  One real daemon subprocess for the whole module."""

import json
import os
import subprocess
import sys
import time

import pytest


@pytest.fixture(scope="module")
def service(tmp_path_factory):
    from kiara_spark import service as svc

    sock = str(tmp_path_factory.mktemp("svc") / "service.sock")
    proc = subprocess.Popen(
        [sys.executable, "-m", "kiara_spark.service", sock],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if svc.is_running(sock):
            break
        if proc.poll() is not None:
            raise RuntimeError("service process died during startup")
        time.sleep(0.5)
    else:
        proc.kill()
        raise RuntimeError("service did not come up in 120s")
    yield sock
    try:
        svc.request({"cmd": "shutdown"}, path=sock, timeout=10)
    except OSError:
        pass
    proc.wait(timeout=30)


def test_second_invocation_fast_and_cache_hit(service, monkeypatch, capsys):
    """Second identical CLI run answers in <2s AND hits the job cache of
    the first — the whole point of the daemon."""
    from kiara_spark.cli import main

    monkeypatch.setenv("KIARA_SPARK_SERVICE", service)
    assert main(["run", "logic.and", "a=true", "b=true"]) == 0
    first = capsys.readouterr().out
    assert "True" in first
    t0 = time.monotonic()
    assert main(["run", "logic.and", "a=true", "b=true"]) == 0
    elapsed = time.monotonic() - t0
    second = capsys.readouterr().out
    assert "cache hit" in second and "True" in second
    assert elapsed < 2.0, f"service round-trip took {elapsed:.2f}s"


def test_service_status_info_and_errors(service, monkeypatch, capsys):
    from kiara_spark import service as svc
    from kiara_spark.cli import main

    monkeypatch.setenv("KIARA_SPARK_SERVICE", service)
    assert main(["service", "status"]) == 0
    out = capsys.readouterr().out
    assert "running (pid" in out and "job(s) run" in out
    # protocol errors are reported, never kill the daemon
    resp = svc.request({"cmd": "run", "operation": "no.such.op"},
                       path=service)
    assert resp["ok"] is False and "no.such.op" in resp["error"]
    assert svc.is_running(service)
    # unknown command
    resp = svc.request({"cmd": "bogus"}, path=service)
    assert resp["ok"] is False


def test_table_outputs_render_across_boundary(service):
    """DataFrames can't cross the socket: table outputs come back as the
    rendered show-string, same as the local CLI prints."""
    from kiara_spark import service as svc

    resp = svc.request(
        {"cmd": "run", "operation": "create.table.from.file",
         "inputs": {"path": "/root/testdata/sf0.001/region.parquet"}},
        path=service)
    assert resp["ok"], resp
    out = resp["outputs"]["table"]
    assert out["type"] == "table"
    assert "r_regionkey" in out["rendered"] and "AFRICA" in out["rendered"]


def test_repeat_run_renders_same_table_from_cache(service):
    """A repeated table run hits the daemon's job cache and answers with
    the same rendered show-string, now served from the page memo."""
    from kiara_spark import service as svc

    # file imports never hit the cache (not idempotent): page a query on one
    saved = svc.request(
        {"cmd": "run", "operation": "create.table.from.file",
         "inputs": {"path": "/root/testdata/sf0.001/nation.parquet"},
         "save": "svc_nation"}, path=service)
    assert saved["ok"], saved
    req = {"cmd": "run", "operation": "table.query.sql",
           "inputs": {"table": "alias:svc_nation",
                      "query": "select * from data order by n_nationkey"}}
    first = svc.request(req, path=service)
    second = svc.request(req, path=service)
    assert first["ok"] and second["ok"], (first, second)
    assert first["cache_hit"] is False and second["cache_hit"] is True
    assert "n_nationkey" in second["outputs"]["table"]["rendered"]
    assert second["outputs"] == first["outputs"]


def test_status_not_running(tmp_path, monkeypatch, capsys):
    from kiara_spark.cli import main

    monkeypatch.setenv("KIARA_SPARK_SERVICE", str(tmp_path / "nope.sock"))
    assert main(["service", "status"]) == 1
    assert "not running" in capsys.readouterr().out


def test_pipeline_routes_through_service(service, monkeypatch, capsys):
    """Pipeline files route through the daemon too; the second run hits
    the composite pipeline cache without stepping."""
    import time as _time

    from kiara_spark.cli import main

    monkeypatch.setenv("KIARA_SPARK_SERVICE", service)
    args = ["run", "examples/llm_data_prep.json",
            "path=/root/testdata/sf0.001/documents.parquet",
            "min_quality=quality_score >= 0.3",
            "summary_query=select lang, count(*) as n from data group by 1"]
    assert main(args) == 0
    first = capsys.readouterr().out
    assert "clean_corpus" in first and "corpus_summary" in first
    t0 = _time.monotonic()
    assert main(args) == 0
    second = capsys.readouterr().out
    assert "cache hit" in second
    assert _time.monotonic() - t0 < 5.0


def test_daemon_survives_client_disconnect(service):
    """A client that connects and vanishes mid-request (or before reading
    the response) must not kill the daemon."""
    import socket as _socket

    from kiara_spark import service as svc

    # connect and drop without sending anything
    s = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
    s.connect(service)
    s.close()
    # send a request then close before reading the (large) response
    s = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
    s.connect(service)
    s.sendall(b'{"cmd": "run", "operation": "create.table.from.file", '
              b'"inputs": {"path": "/root/testdata/sf0.001/orders.parquet"}}\n')
    s.close()
    import time as _time
    _time.sleep(1.0)
    assert svc.is_running(service)


def test_job_desc_routes_through_service(service, monkeypatch, capsys):
    """Job description files route through the daemon (round 9): the
    description's save map lands in the daemon's PERSISTENT alias
    registry, so a later service `run` can read the alias."""
    from kiara_spark.cli import main

    monkeypatch.setenv("KIARA_SPARK_SERVICE", service)
    monkeypatch.chdir("/root/repo")
    assert main(["run", "examples/jobs/import_documents.json"]) == 0
    out = capsys.readouterr().out
    assert "-- table (table)" in out and "doc_id" in out
    # the daemon kept the `docs` alias: the summary job reads it by ref
    assert main(["run", "examples/jobs/corpus_summary.json",
                 "table=alias:docs"]) == 0
    out = capsys.readouterr().out
    assert "n_docs" in out and "total_chars" in out

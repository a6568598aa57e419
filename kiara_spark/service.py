"""Context service: a long-lived daemon holding ONE KiaraContext (and its
SparkSession), plus a thin client the CLI routes through — so repeated
``kiara run`` invocations skip the ~20-30s JVM/SparkSession startup and
share one job cache.

Reference parity: the reference ships a per-context ZMQ service process and
client for exactly this reason (``src/kiara/zmq/__init__.py:17-50``,
``zmq/service/``, ``zmq/client.py``).  Here the transport is a Unix domain
socket with newline-delimited JSON — localhost-only by construction,
authorization = filesystem permissions on the socket, no extra
dependencies.

Protocol (one JSON object per line, one request per connection):

    {"cmd": "ping"}                          -> {"ok": true, "pid": N}
    {"cmd": "info"}                          -> {"ok": true, ...counts}
    {"cmd": "shutdown"}                      -> {"ok": true} (then exits)
    {"cmd": "run", "operation": str,
     "inputs": {...}, "operation_config": {}|null, "save": str|null}
        -> {"ok": true, "cache_hit": bool,
            "outputs": {name: {"type": t, "rendered": str}}}
    {"cmd": "run_pipeline", "pipeline": <path or config dict>,
     "inputs": {...}}
        -> same shape; the daemon's composite pipeline cache makes a
           repeated pipeline answer without stepping (and, under
           data_hash, across daemon restarts from the warehouse)

Inputs are JSON scalars or value references (``alias:x`` / ``value:uuid``)
resolved inside the service context — DataFrames never cross the process
boundary; table outputs come back pre-rendered (the same show-string the
local CLI prints).

Start:  python -m kiara_spark.cli service start [--socket P] [--daemon]
Route:  KIARA_SPARK_SERVICE=<socket> python -m kiara_spark.cli run ...
"""

from __future__ import annotations

import json
import os
import socket
import sys

DEFAULT_SOCKET = os.path.join(
    os.path.expanduser("~/.local/share/kiara_spark"), "service.sock")


def socket_path() -> str:
    return os.environ.get("KIARA_SPARK_SERVICE") or DEFAULT_SOCKET


# ---------------------------------------------------------------------------
# client
# ---------------------------------------------------------------------------


class ServiceMidFlightError(RuntimeError):
    """The request was SENT but no (complete) response came back — the
    daemon may have executed it, so callers must NOT blindly re-run a
    side-effecting request (r4 review: a --save job retried locally after
    a post-send failure would store its outputs twice)."""


def request(payload: dict, path: str | None = None, timeout: float = 600.0) -> dict:
    """Send one request, return the decoded response.

    Raises ConnectionError/OSError when the service cannot be REACHED
    (nothing was sent — safe to fall back to a local context) and
    :class:`ServiceMidFlightError` when the failure happened after the
    request went out (the work may have happened)."""
    path = path or socket_path()
    with socket.socket(socket.AF_UNIX, socket.SOCK_STREAM) as s:
        s.settimeout(timeout)
        s.connect(path)  # pre-send failures propagate as OSError
        try:
            s.sendall(json.dumps(payload).encode() + b"\n")
            buf = b""
            while not buf.endswith(b"\n"):
                chunk = s.recv(1 << 20)
                if not chunk:
                    break
                buf += chunk
            return json.loads(buf.decode())
        except (OSError, ValueError) as exc:
            raise ServiceMidFlightError(
                f"service request failed after send: {exc}") from exc


def is_running(path: str | None = None) -> bool:
    try:
        return request({"cmd": "ping"}, path=path, timeout=5.0).get("ok", False)
    except (OSError, ValueError, ServiceMidFlightError):
        return False


# ---------------------------------------------------------------------------
# server
# ---------------------------------------------------------------------------


def _render_outputs(outputs) -> dict:
    from .io import show_string

    return {name: {"type": value.schema.type,
                   "rendered": show_string(value.data)}
            for name, value in outputs.items()}


def _handle(ctx, req: dict) -> tuple[dict, bool]:
    """-> (response, keep_serving)"""
    cmd = req.get("cmd")
    if cmd == "ping":
        return {"ok": True, "pid": os.getpid()}, True
    if cmd == "shutdown":
        return {"ok": True}, False
    if cmd == "info":
        return {"ok": True,
                "pid": os.getpid(),
                "base_path": ctx.base_path,
                "operations": len(list(ctx.operations)),
                "modules": len(list(ctx.modules)),
                "aliases": len(ctx.data_registry.aliases),
                "jobs_run": len(ctx.job_registry.history)}, True
    if cmd == "run":
        from .api import KiaraAPI

        # through the API: the daemon context's runtime profile applies
        # (comment requirement + forced auto-save under "dharpa")
        outputs = KiaraAPI(context=ctx).run_job(
            req["operation"], req.get("inputs") or {},
            operation_config=req.get("operation_config"),
            save=req.get("save"), comment=req.get("comment"))
        hist = ctx.job_registry.history
        return {"ok": True,
                "cache_hit": bool(hist and hist[-1].cache_hit),
                "outputs": _render_outputs(outputs)}, True
    if cmd == "run_pipeline":
        from .api import KiaraAPI

        # through the API: the runtime-profile discipline applies to the
        # daemon's pipeline runs too (r10 advice)
        outputs = KiaraAPI(context=ctx).run_pipeline(
            req["pipeline"], req.get("inputs") or {},
            comment=req.get("comment"))
        hist = ctx.job_registry.history
        return {"ok": True,
                "cache_hit": bool(hist and hist[-1].cache_hit),
                "outputs": _render_outputs(outputs)}, True
    if cmd == "run_job_desc":
        # job description files run INSIDE the daemon's persistent context
        # so the description's save map lands in the long-lived alias
        # registry (round 9; the CLI routes `run job.json` here when a
        # service is live)
        from .api import KiaraAPI

        api = KiaraAPI(context=ctx)
        outputs = api.run_job_desc(req["job_desc"],
                                   inputs=req.get("inputs") or {},
                                   comment=req.get("comment"))
        hist = ctx.job_registry.history
        return {"ok": True,
                "cache_hit": bool(hist and hist[-1].cache_hit),
                "outputs": _render_outputs(outputs)}, True
    return {"ok": False, "error": f"unknown cmd {cmd!r}"}, True


def _read_request_line(conn, deadline_s: float, max_bytes: int) -> bytes:
    """Read one newline-terminated request under an ABSOLUTE deadline and
    size cap; raises OSError (timeout) past either, so the per-connection
    handler drops the client and keeps serving."""
    import time

    deadline = time.monotonic() + deadline_s
    buf = b""
    while not buf.endswith(b"\n"):
        remaining = deadline - time.monotonic()
        if remaining <= 0 or len(buf) > max_bytes:
            raise OSError("request read deadline/size exceeded")
        conn.settimeout(remaining)
        chunk = conn.recv(1 << 16)
        if not chunk:
            return b""  # client closed without a request
        buf += chunk
    return buf


def serve(path: str | None = None, base_path: str | None = None) -> None:
    """Build the context once, then serve until a shutdown request.  One
    request per connection, sequential — the service wraps a single driver
    context, so serializing requests mirrors the execution model (Spark
    parallelism lives below, in the jobs themselves)."""
    from .context import KiaraContext

    path = path or socket_path()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    if os.path.exists(path):
        if is_running(path):
            raise SystemExit(f"service already running on {path}")
        os.unlink(path)  # stale socket from a dead process

    ctx = KiaraContext(base_path=base_path)
    srv = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
    try:
        srv.bind(path)
        os.chmod(path, 0o600)  # owner-only: the socket IS the auth boundary
        srv.listen(8)
        print(f"kiara_spark service ready on {path} (pid {os.getpid()})",
              flush=True)
        serving = True
        while serving:
            conn, _ = srv.accept()
            # a misbehaving client (disconnect mid-request, broken pipe on
            # the response write) must never take the daemon down — the
            # whole point is outliving its clients
            try:
                with conn:
                    # a connected-but-silent (or byte-trickling) client
                    # must not wedge the sequential accept loop: the read
                    # enforces an ABSOLUTE 30s deadline + 1 MiB cap, not a
                    # per-recv timeout a trickler could reset forever; the
                    # response write gets its own bounded timeout so a
                    # client that never reads can't block past the socket
                    # buffer either (r4 review round 2)
                    line = _read_request_line(conn, deadline_s=30.0,
                                              max_bytes=1 << 20)
                    if not line:
                        continue
                    try:
                        req = json.loads(line.decode())
                        resp, serving = _handle(ctx, req)
                    except Exception as exc:  # noqa: BLE001 — report, serve on
                        resp = {"ok": False,
                                "error": f"{type(exc).__name__}: {exc}"}
                    conn.settimeout(600.0)
                    conn.sendall(json.dumps(resp).encode() + b"\n")
            except OSError:
                continue
    finally:
        srv.close()
        if os.path.exists(path):
            os.unlink(path)


def spawn_daemon(path: str | None = None) -> int:
    """Start the service as a detached background process; returns its pid.
    The caller should poll ``is_running`` — SparkSession startup takes
    ~20-30s."""
    import subprocess

    path = path or socket_path()
    proc = subprocess.Popen(
        [sys.executable, "-m", "kiara_spark.service", path],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        start_new_session=True)
    return proc.pid


if __name__ == "__main__":
    serve(sys.argv[1] if len(sys.argv) > 1 else None)

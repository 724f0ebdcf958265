"""HTTP job-server surface — the reference's REST API, re-expressed for a
table-native engine.

Reference analogs (validator-ws/src/main/java/org/gbif/validation/ws/
resources/ValidationResource.java):
- ``POST /jobserver/submit`` (:87-97) — the reference consumes a multipart
  file upload; our "upload" is a table reference (Iceberg ``db.table`` or a
  parquet/csv/jsonl path), because at 10^12 rows data arrives as a table,
  not a request body. Returns 202 + the ACCEPTED status document.
- ``POST /jobserver/submiturl?fileUrl=`` (:99-118) — parity alias: accepts
  a ``file://`` URL or plain path in the ``fileUrl`` query param.
- ``GET /jobserver/status/{jobid}`` (:120-125).
- ``GET /jobserver/status/{jobid}/kill`` (:140-145).
- ``GET /jobserver/output/{jobid}/{type}`` (:127-138) — the reference's
  ``ValidationDataOutput.Type`` enum (DATASET_OBJECT, VERBATIM_RECORD_SAMPLE
  — api/result/ValidationDataOutput.java:20-21) maps to report sections:
  ``report`` (whole document, DATASET_OBJECT analog), ``samples``
  (VERBATIM_RECORD_SAMPLE analog), plus ``issue_counts`` / ``metrics`` /
  ``partition_verdicts`` for the engine's richer report.

Spark design: the handler thread only *submits* — the JobRunner runs each
validation on its own driver thread under a Spark job group, so a slow
job never blocks the HTTP accept loop, and ``kill`` cancels in-flight
stages cluster-wide via ``cancelJobGroup``. ``ThreadingHTTPServer`` gives
one handler thread per request; all shared state lives in JobRunner's
lock-guarded maps and atomic status files. The server binds an ephemeral
port by default so tests never collide.

Trust model: any client that can reach the port can submit jobs that READ
Spark-accessible paths and WRITE under the job work dir — so the server is
loopback-only by default, binding a non-loopback host requires an
``auth_token`` (checked as ``Authorization: Bearer <token>`` on every
request, constant-time compare), the filesystem-path config field
(``work_dir``) is NOT client-settable unless ``path_prefix`` is configured,
and with ``path_prefix`` set both the input path and any client
``work_dir`` must resolve under that prefix (403 otherwise): local paths
through ``os.path.realpath`` on both sides, so no symlink leads out of it;
paths with a URI scheme as normalized strings (so a local prefix admits
no ``file://`` URI).
"""

from __future__ import annotations

import hmac
import json
import os.path
import re
import threading
from dataclasses import fields as dc_fields
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import SparkSession

from ..plans.engine import EngineConfig
from ..plans.jobs import FINISHED, NOT_FOUND, JobRunner

#: report sections servable via /output/{id}/{type} (case-insensitive),
#: mirroring ValidationDataOutput.Type.fromString's lenient matching
OUTPUT_TYPES = ("report", "samples", "issue_counts", "metrics", "partition_verdicts")

_CONFIG_FIELDS = {f.name for f in dc_fields(EngineConfig)}
#: config fields that hold DataFrames or CustomCheck objects: JSON cannot
#: carry them
_OBJECT_FIELDS = {"robots_table", "manifest_table", "custom_checks"}

_STATUS_RE = re.compile(r"^/jobserver/status/(\d+)(/kill)?$")
_OUTPUT_RE = re.compile(r"^/jobserver/output/(\d+)/([A-Za-z_]+)$")

#: JobStatusResponse.FAILED_RESPONSE analog — the body of every 4xx
FAILED_RESPONSE = {"status": "FAILED", "job_id": -1}

#: request-body cap (bytes). The reference caps uploads at 100 MB
#: (ws/conf/ValidationWsConfiguration.java:13 maxFileTransferSizeInBytes);
#: our submit body is a small JSON spec — table data never travels in the
#: request — so the default is far tighter. Knob on ValidationServer.
DEFAULT_MAX_BODY_BYTES = 1 * 1024 * 1024


def _read_input(spark: SparkSession, path: str, fmt: str):
    from ..sources import tables

    fmt = (fmt or "parquet").lower()
    if fmt == "parquet":
        return tables.read_table(spark, path)
    if fmt == "csv":
        return tables.read_pages_csv(spark, path)
    if fmt in ("jsonl", "json"):
        return tables.read_pages_jsonl(spark, path)
    raise ValueError(f"unsupported format: {fmt!r}")


def _resolve(path: str) -> str:
    """A local path with its symlinks resolved; a URI only normalized."""
    if urlparse(path).scheme:
        return os.path.normpath(path)
    return os.path.realpath(path)


class _JobHTTPServer(ThreadingHTTPServer):
    """ThreadingHTTPServer carrying the shared JobRunner for handlers."""

    daemon_threads = True

    def __init__(
        self,
        addr,
        handler,
        runner: JobRunner,
        auth_token: str | None = None,
        path_prefix: str | None = None,
        max_body_bytes: int = DEFAULT_MAX_BODY_BYTES,
    ) -> None:
        self.runner = runner
        self.auth_token = auth_token
        self.max_body_bytes = max_body_bytes
        self.path_prefix = _resolve(path_prefix) + os.sep if path_prefix else None
        super().__init__(addr, handler)

    def path_allowed(self, path: str) -> bool:
        if self.path_prefix is None:
            return True
        return (_resolve(path) + os.sep).startswith(self.path_prefix)


class _Handler(BaseHTTPRequestHandler):
    server: _JobHTTPServer  # type: ignore[assignment]

    # -- plumbing --------------------------------------------------------
    def _send(self, code: int, doc: dict) -> None:
        body = json.dumps(doc, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a) -> None:  # quiet: tests assert on responses
        pass

    def _authorized(self) -> bool:
        """Bearer-token check (constant-time) when the server carries a
        token; loopback-default servers without one skip it."""
        token = self.server.auth_token
        if token is None:
            return True
        got = self.headers.get("Authorization", "")
        return got.startswith("Bearer ") and hmac.compare_digest(got[7:], token)

    # -- routes ----------------------------------------------------------
    def do_POST(self) -> None:
        if not self._authorized():
            return self._send(401, {**FAILED_RESPONSE, "error": "unauthorized"})
        url = urlparse(self.path)
        if url.path == "/jobserver/submit":
            try:
                n = int(self.headers.get("Content-Length", 0))
            except ValueError:
                return self._send(400, {**FAILED_RESPONSE, "error": "bad Content-Length"})
            # size cap BEFORE reading a byte (maxFileTransferSizeInBytes
            # analog): an oversized/streamed body is refused, not buffered
            if n > self.server.max_body_bytes:
                return self._send(
                    413,
                    {**FAILED_RESPONSE,
                     "error": f"body {n} bytes exceeds cap {self.server.max_body_bytes}"},
                )
            ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip().lower()
            if ctype not in ("", "application/json"):
                return self._send(
                    415,
                    {**FAILED_RESPONSE,
                     "error": f"unsupported Content-Type {ctype!r} (application/json)"},
                )
            try:
                spec = json.loads(self.rfile.read(n) or b"{}")
                if not isinstance(spec, dict):
                    raise ValueError("spec must be a JSON object")
            except (ValueError, json.JSONDecodeError):
                return self._send(400, {**FAILED_RESPONSE, "error": "bad JSON body"})
            return self._submit(spec)
        if url.path == "/jobserver/submiturl":
            file_url = parse_qs(url.query).get("fileUrl", [None])[0]
            if not file_url:
                return self._send(400, {**FAILED_RESPONSE, "error": "fileUrl required"})
            p = urlparse(file_url)
            if p.scheme not in ("", "file"):
                return self._send(
                    400, {**FAILED_RESPONSE, "error": "only file:// URLs supported"}
                )
            return self._submit({"path": unquote(p.path) or file_url})
        return self._send(404, {**FAILED_RESPONSE, "error": "no such route"})

    def _submit(self, spec: dict) -> None:
        path = spec.get("path")
        if not path:
            return self._send(400, {**FAILED_RESPONSE, "error": "path required"})
        cfg_kwargs = spec.get("config") or {}
        unknown = set(cfg_kwargs) - _CONFIG_FIELDS
        if unknown:
            return self._send(
                400, {**FAILED_RESPONSE, "error": f"unknown config keys: {sorted(unknown)}"}
            )
        objects = set(cfg_kwargs) & _OBJECT_FIELDS
        if objects:
            return self._send(
                400,
                {**FAILED_RESPONSE,
                 "error": f"config keys not settable over JSON: {sorted(objects)}"},
            )
        srv = self.server
        # filesystem-path fields: work_dir is client-settable ONLY under an
        # explicit allowlisted prefix (a reachable client could otherwise
        # direct violation/checkpoint writes anywhere Spark can write)
        if "work_dir" in cfg_kwargs:
            wd = cfg_kwargs["work_dir"]
            if srv.path_prefix is None or not isinstance(wd, str) or not srv.path_allowed(wd):
                return self._send(
                    403,
                    {**FAILED_RESPONSE,
                     "error": "work_dir not permitted (server has no path_prefix allowlist or value outside it)"},
                )
        if not srv.path_allowed(path):
            return self._send(
                403, {**FAILED_RESPONSE, "error": "path outside the server's path_prefix"}
            )
        try:
            # schema errors raise here (handler thread), before submit —
            # the preflight pass inside the engine catches the rest async
            pages = _read_input(srv.runner.spark, path, spec.get("format", "parquet"))
            # tuple-typed dataclass fields arrive as JSON lists
            if "data_unique_cols" in cfg_kwargs:
                cfg_kwargs["data_unique_cols"] = tuple(cfg_kwargs["data_unique_cols"])
            config = EngineConfig(**cfg_kwargs)
        except Exception as e:
            return self._send(400, {**FAILED_RESPONSE, "error": f"{type(e).__name__}: {e}"})
        job_id = srv.runner.submit(pages, config)
        self._send(202, srv.runner.status(job_id))

    def do_GET(self) -> None:
        if not self._authorized():
            return self._send(401, {**FAILED_RESPONSE, "error": "unauthorized"})
        m = _STATUS_RE.match(self.path)
        if m:
            job_id, kill = int(m.group(1)), bool(m.group(2))
            st = self.server.runner.status(job_id)
            if st.get("status") == NOT_FOUND:  # kill of an unknown id must
                return self._send(404, st)  # not fabricate a KILLED doc
            if kill:
                st = self.server.runner.kill(job_id)
            return self._send(200, st)
        m = _OUTPUT_RE.match(self.path)
        if m:
            return self._output(int(m.group(1)), m.group(2).lower())
        return self._send(404, {**FAILED_RESPONSE, "error": "no such route"})

    def _output(self, job_id: int, out_type: str) -> None:
        if out_type not in OUTPUT_TYPES:  # bad type → 400 (reference :137)
            return self._send(400, {**FAILED_RESPONSE, "error": f"unknown output type {out_type!r}"})
        st = self.server.runner.status(job_id)
        if st.get("status") == NOT_FOUND:
            return self._send(404, st)
        if st.get("status") != FINISHED:
            return self._send(404, {"job_id": job_id, "status": st.get("status"), "error": "no output yet"})
        report = st.get("report") or {}
        doc = report if out_type == "report" else report.get(out_type)
        self._send(200, {"job_id": job_id, "type": out_type, "data": doc})


def _is_loopback(host: str) -> bool:
    if host in ("localhost", ""):
        return True
    try:
        import ipaddress

        return ipaddress.ip_address(host).is_loopback
    except ValueError:
        return False


class ValidationServer:
    """Embeddable HTTP facade over :class:`JobRunner` (ValidationWsListener
    analog, minus the servlet container). ``port=0`` binds an ephemeral
    port — read it back from ``.port`` after :meth:`start`.

    See the module docstring for the trust model: non-loopback binds
    require ``auth_token``; ``path_prefix`` allowlists client-supplied
    input paths and unlocks client-settable ``work_dir`` under it."""

    def __init__(
        self,
        spark: SparkSession,
        storage_dir: str,
        host: str = "127.0.0.1",
        port: int = 0,
        auth_token: str | None = None,
        path_prefix: str | None = None,
        max_body_bytes: int = DEFAULT_MAX_BODY_BYTES,
    ) -> None:
        if auth_token is None and not _is_loopback(host):
            raise ValueError(
                f"refusing to bind non-loopback host {host!r} without auth_token — "
                "any client that reaches the port can read Spark-accessible paths"
            )
        self.runner = JobRunner(spark, storage_dir)
        self._httpd = _JobHTTPServer(
            (host, port), _Handler, self.runner,
            auth_token=auth_token, path_prefix=path_prefix,
            max_body_bytes=max_body_bytes,
        )
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "ValidationServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="gdv-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=10)

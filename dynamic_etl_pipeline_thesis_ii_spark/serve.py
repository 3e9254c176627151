"""REST + event-stream serving rim over the Pipeline engine.

The reference exposes its pipeline through a FastAPI app
(``backend/app/api/endpoints/pipeline.py:18-41``: POST /pipeline/run
starts a background run; GET /pipeline/status/{run_id},
/pipeline/results/{run_id}, /pipeline/history read it back) plus a
WebSocket progress push (``backend/app/api/endpoints/websocket.py:
31-87``). This module re-expresses that transport contract over the
standard library — no third-party web framework exists in the target
environment, and the engine side (per-stage ``progress`` callbacks on
``plans.orchestrator.Pipeline``, run-artifact reports) already carries
the semantics, so the rim is deliberately thin:

- ``POST /api/pipeline/run``    -> ``{run_id, status, message,
  created_at}``; body ``{"query": ..., "options": {...}}``. The run
  executes on a background thread (the engine is a Spark driver —
  concurrent runs are concurrent Spark jobs, which the scheduler
  interleaves).
- ``GET /api/pipeline/status/<run_id>`` -> reference-shaped status
  (``run_id, query, status, progress, current_stage, message,
  started_at, completed_at, error, stage_flags``).
- ``GET /api/pipeline/results/<run_id>`` -> the run's report dict
  (404 unknown, 400 while still running — same codes as the
  reference).
- ``GET /api/pipeline/history`` -> newest-first run summaries.
- ``GET /api/pipeline/download/<run_id>/<filename>`` -> one file
  from under the run's ``options.output_path`` directory (the sink
  the run wrote), with the reference's containment guard — a path
  that resolves outside the run dir is a 403, unknown file a 404.
- ``GET /api/pipeline/events/<run_id>`` -> **Server-Sent Events**
  stream of the staged progress events, one ``data:`` frame per
  event, closing after the terminal frame. SSE stands in for the
  reference's WebSocket push: the contract is the ordered stage-event
  stream, and SSE delivers it over plain HTTP with stdlib-only
  machinery on both ends (the reference's own frontend consumes the
  events one-directionally, which is exactly SSE's shape). A client
  connecting AFTER completion gets the full replay, then the close.
- ``POST /api/pipeline/stream`` -> connect-starts-run: creates the
  run AND streams its events on the same connection (first frame
  ``__created__`` carries the run_id), matching the reference
  WebSocket's start-on-connect flow
  (``backend/app/api/endpoints/websocket.py:52-60``) over SSE.

Queries route by intent: a dataops query (``parse_dataops_query``
returns a plan, and the request supplies ``options.source_dir`` /
``options.output_path``) runs ``Pipeline.run_dataops``; everything
else runs the finance lifecycle ``Pipeline.run``. DataFrame outputs
never serialize through the API — results carry the REPORTS (plus the
sink paths the run already wrote), mirroring the reference where
results are files under the run dir.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Callable, Optional

from dynamic_etl_pipeline_thesis_ii_spark.scope import cache_scope

# canonical finance-lifecycle stage order, used only for the coarse
# progress fraction the reference's status payload carries; dataops
# runs emit fewer stages and simply top out lower until completion
_STAGES = ("plan", "validate_plan", "fetch", "validate_output",
           "integrate", "transform", "curate", "dedup", "chunk",
           "sample", "weight", "publish")

Runner = Callable[[str, dict, Callable[[str, dict], None]], dict]


def pipeline_runner(pipeline_factory) -> Runner:
    """Adapt a ``Pipeline`` factory (``progress_fn -> Pipeline``) to
    the service's runner signature, routing dataops-intent queries to
    ``run_dataops`` when the request options name the corpus dirs."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    def run(query: str, options: dict,
            progress: Callable[[str, dict], None]) -> dict:
        pipe = pipeline_factory(progress)
        if (options.get("source_dir") and options.get("output_path")
                and parse_dataops_query(query) is not None):
            return pipe.run_dataops(query, options["source_dir"],
                                    options["output_path"])
        return pipe.run(query)

    return run


class PipelineService:
    """In-memory run registry: create -> background execute -> status/
    results/history/events. The engine-side progress callback feeds a
    per-run event list guarded by a condition variable, which both the
    status endpoint and the SSE stream read."""

    def __init__(self, runner: Runner):
        self._runner = runner
        self._runs: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._cond = threading.Condition(self._lock)

    # -- lifecycle ----------------------------------------------------
    def create_run(self, query: str, options: Optional[dict] = None) -> str:
        run_id = uuid.uuid4().hex[:12]
        with self._lock:
            self._runs[run_id] = {
                "run_id": run_id, "query": query,
                "options": dict(options or {}),
                "status": "pending", "current_stage": None,
                "message": "Pipeline started successfully",
                "started_at": time.time(), "completed_at": None,
                "error": None, "stage_flags": {}, "events": [],
                "result": None,
            }
        t = threading.Thread(target=self._execute, args=(run_id,),
                             daemon=True)
        t.start()
        return run_id

    def _execute(self, run_id: str) -> None:
        run = self._runs[run_id]

        def progress(stage: str, info: dict) -> None:
            with self._cond:
                run["status"] = "running"
                run["current_stage"] = stage
                run["stage_flags"][stage] = True
                run["events"].append({"seq": len(run["events"]),
                                      "stage": stage, "info": info,
                                      "ts": time.time()})
                self._cond.notify_all()

        try:
            # the run owns its cached frames (released when it ends), so
            # concurrent runs on one SparkSession never drain each other's
            with cache_scope():
                result = self._runner(run["query"], run["options"],
                                      progress)
            with self._cond:
                run["result"] = result
                run["status"] = ("completed"
                                 if result.get("status") != "failed"
                                 else "failed")
                run["message"] = result.get("reason") or result.get(
                    "status", "complete")
        except Exception as exc:  # engine errors surface as failed runs
            with self._cond:
                run["status"] = "failed"
                run["error"] = f"{type(exc).__name__}: {exc}"
                run["message"] = run["error"]
        with self._cond:
            run["completed_at"] = time.time()
            run["events"].append({"seq": len(run["events"]),
                                  "stage": "__done__",
                                  "info": {"status": run["status"]},
                                  "ts": run["completed_at"]})
            self._cond.notify_all()

    # -- reads ----------------------------------------------------------
    def get_run_status(self, run_id: str) -> Optional[dict]:
        run = self._runs.get(run_id)
        if run is None:
            return None
        with self._lock:
            seen = [s for s in _STAGES if s in run["stage_flags"]]
            progress = (1.0 if run["completed_at"] else
                        min(0.95, len(seen) / len(_STAGES)))
            return {k: run[k] for k in
                    ("run_id", "query", "status", "current_stage",
                     "message", "started_at", "completed_at", "error",
                     "stage_flags")} | {"progress": progress}

    def get_results(self, run_id: str) -> Optional[dict]:
        run = self._runs.get(run_id)
        if run is None or run["result"] is None:
            return None
        result = run["result"]
        # DataFrames never serialize through the API: ship the reports
        # and the count of output frames; sinks were already written
        # by the run itself (parquet paths are inside the reports)
        return {"run_id": run_id, "status": result.get("status"),
                "reason": result.get("reason"),
                "n_outputs": len(result.get("outputs") or []),
                "reports": _jsonsafe(result.get("reports", {}))}

    def get_history(self) -> list[dict]:
        with self._lock:
            runs = sorted(self._runs.values(),
                          key=lambda r: r["started_at"], reverse=True)
            return [{"run_id": r["run_id"], "query": r["query"],
                     "status": r["status"],
                     "started_at": r["started_at"],
                     "completed_at": r["completed_at"]} for r in runs]

    def iter_events(self, run_id: str, idle_timeout: float = 300.0):
        """Yield the run's progress events in order, blocking for new
        ones until the terminal ``__done__`` frame. The timeout is an
        IDLE timeout — it resets every time an event arrives — so a
        long run that is still emitting stage events keeps its stream
        open indefinitely; only a run that goes silent for the full
        window closes the stream early (real dataops runs routinely
        exceed any fixed absolute deadline)."""
        run = self._runs.get(run_id)
        if run is None:
            return
        i, deadline = 0, time.time() + idle_timeout
        while True:
            with self._cond:
                while i >= len(run["events"]):
                    if time.time() > deadline:
                        return
                    self._cond.wait(timeout=1.0)
                batch = run["events"][i:]
                i = len(run["events"])
            deadline = time.time() + idle_timeout  # activity resets it
            for ev in batch:
                yield ev
                if ev["stage"] == "__done__":
                    return


def _jsonsafe(obj):
    """Reports may carry non-JSON values (numpy scalars, DataFrames in
    pathological cases) — degrade them to strings instead of 500s."""
    try:
        json.dumps(obj)
        return obj
    except (TypeError, ValueError):
        if isinstance(obj, dict):
            return {str(k): _jsonsafe(v) for k, v in obj.items()}
        if isinstance(obj, (list, tuple)):
            return [_jsonsafe(v) for v in obj]
        return str(obj)


def make_server(service: PipelineService, host: str = "127.0.0.1",
                port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) the HTTP server; ``server.server_address``
    carries the bound port when ``port=0``. Call ``serve_forever()``
    on a thread, ``shutdown()`` to stop."""

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet: the engine logs stages
            pass

        def _json(self, code: int, payload) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _download(self, run_id: str, filename: str):
            """Serve one file from under the run's output directory —
            the reference's download endpoint, same status contract:
            404 unknown run/file, 403 when the resolved path escapes
            the run dir (``..``, absolute names, symlinks out)."""
            import os
            run = service._runs.get(run_id)
            if run is None:
                return self._json(404, {"detail": "Pipeline run not found"})
            out_dir = run["options"].get("output_path")
            if not out_dir or not os.path.isdir(out_dir):
                return self._json(404, {"detail": "File not found"})
            root = os.path.realpath(out_dir)
            target = os.path.realpath(os.path.join(root, filename))
            if not (target == root
                    or target.startswith(root + os.sep)):
                return self._json(403, {"detail": "Access denied"})
            if not os.path.isfile(target):
                return self._json(404, {"detail": "File not found"})
            with open(target, "rb") as fh:
                body = fh.read()
            self.send_response(200)
            self.send_header("Content-Type", "application/octet-stream")
            self.send_header("Content-Disposition",
                             f'attachment; filename="{filename}"')
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return None

        def _parse_run_body(self):
            """Read and validate a run-request body; returns
            ``(query, options)`` or raises ``ValueError`` with the
            client-facing detail (always a 422, never an escaped
            TypeError deeper in the service)."""
            try:
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n) or b"{}")
                query = req["query"]
            except (KeyError, TypeError, ValueError,
                    json.JSONDecodeError) as exc:
                # TypeError covers a non-object body ('"abc"', '[1]')
                raise ValueError(f"bad request: {exc}") from exc
            options = req.get("options")
            if options is not None and not isinstance(options, dict):
                raise ValueError("bad request: options must be an "
                                 f"object, got {type(options).__name__}")
            return query, options

        def do_POST(self):
            path = self.path.rstrip("/")
            if path == "/api/pipeline/run":
                try:
                    query, options = self._parse_run_body()
                except ValueError as exc:
                    return self._json(422, {"detail": str(exc)})
                run_id = service.create_run(query, options)
                status = service.get_run_status(run_id)
                return self._json(200, {
                    "run_id": run_id, "status": "pending",
                    "message": "Pipeline started successfully",
                    "created_at": status["started_at"]})
            if path == "/api/pipeline/stream":
                # connect-starts-run: the reference WebSocket endpoint
                # (websocket.py:52-60) lets one connection both START a
                # run and consume its progress push; this is that flow
                # over SSE — create the run, then stream its events on
                # the same connection. First frame is __created__ with
                # the run_id so the client can hit status/results later.
                try:
                    query, options = self._parse_run_body()
                except ValueError as exc:
                    return self._json(422, {"detail": str(exc)})
                run_id = service.create_run(query, options)
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                try:
                    created = {"seq": -1, "stage": "__created__",
                               "info": {"run_id": run_id},
                               "ts": time.time()}
                    self.wfile.write(
                        b"data: " + json.dumps(created).encode() + b"\n\n")
                    self.wfile.flush()
                    for ev in service.iter_events(run_id):
                        self.wfile.write(
                            b"data: " + json.dumps(ev).encode() + b"\n\n")
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass    # client went away; the run keeps going
                return None
            return self._json(404, {"detail": "not found"})

        def do_GET(self):
            parts = [p for p in self.path.split("?")[0].split("/") if p]
            if parts[:2] != ["api", "pipeline"] or len(parts) < 3:
                return self._json(404, {"detail": "not found"})
            verb = parts[2]
            if verb == "history":
                return self._json(200, service.get_history())
            if verb == "download" and len(parts) == 5:
                return self._download(parts[3], parts[4])
            if len(parts) != 4:
                return self._json(404, {"detail": "not found"})
            run_id = parts[3]
            if verb == "status":
                status = service.get_run_status(run_id)
                if status is None:
                    return self._json(404,
                                      {"detail": "Pipeline run not found"})
                return self._json(200, status)
            if verb == "results":
                results = service.get_results(run_id)
                if results is not None:
                    return self._json(200, results)
                status = service.get_run_status(run_id)
                if status is None:
                    return self._json(404,
                                      {"detail": "Pipeline run not found"})
                return self._json(400, {
                    "detail": "Pipeline is not completed yet. "
                              f"Current status: {status['status']}"})
            if verb == "events":
                if service.get_run_status(run_id) is None:
                    return self._json(404,
                                      {"detail": "Pipeline run not found"})
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                try:
                    for ev in service.iter_events(run_id):
                        self.wfile.write(
                            b"data: " + json.dumps(ev).encode() + b"\n\n")
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass    # client went away mid-stream
                return None
            return self._json(404, {"detail": "not found"})

    return ThreadingHTTPServer((host, port), Handler)


def main(argv: Optional[list[str]] = None) -> None:
    """``python -m dynamic_etl_pipeline_thesis_ii_spark.serve --sf-dir
    /data/sf0.1 --port 8000``: serve the engine over the parquet
    fixture catalog (the FixtureFetcher wiring used by the test
    suite; swap the factory for live HTTP fetchers in production)."""
    import argparse

    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8000)
    args = ap.parse_args(argv)
    spark = get_spark(app_name="serve")
    service = PipelineService(pipeline_runner(
        lambda progress: Pipeline(spark, FixtureFetcher(spark, args.sf_dir),
                                  progress=progress)))
    server = make_server(service, args.host, args.port)
    print(f"serving on http://{server.server_address[0]}:"
          f"{server.server_address[1]}/api/pipeline/run")
    server.serve_forever()


if __name__ == "__main__":
    main()

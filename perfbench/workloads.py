"""The benchmark's workloads: one closed-loop client that drives the engine.

Each workload runs passes over its pinned op list (``expected.json``).
One op is one registry query (build, then ``count()``) or one NL run
through the in-process HTTP server. Every op is checked against its
pinned expected output; an op that raises, times out or mismatches is
recorded as failed with its name and reason.

Op records carry epoch-second windows (``t0``/``t1``) so the traced run
can attribute event-log jobs and stages to them.
"""

from __future__ import annotations

import http.client
import json
import os
import random
import threading
import time
from contextlib import contextmanager

PKG = "dynamic_etl_pipeline_thesis_ii_spark"
OP_TIMEOUT_S = 60.0

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "expected.json"), encoding="utf-8") as _fh:
    PINNED = json.load(_fh)

WORKLOADS = tuple(PINNED)


class PinnedOpMissing(RuntimeError):
    """A pinned op no longer exists in the engine."""


def pass_orders(names: list[str], seed: int, n_passes: int) -> list[list[str]]:
    """One seeded permutation of the op list per pass (warm-up first)."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = list(names)
        rng.shuffle(order)
        orders.append(order)
    return orders


def _err(exc: BaseException) -> str:
    return f"{type(exc).__name__}: {exc}".splitlines()[0][:200]


# ---------------------------------------------------------------------------
# registry_batch
# ---------------------------------------------------------------------------

def registry_queries() -> dict:
    """Pinned name -> query constructor; raises if one left the registry."""
    from dynamic_etl_pipeline_thesis_ii_spark.queries import all_queries

    qs = all_queries()
    missing = [n for n in PINNED["registry_batch"]["ops"] if n not in qs]
    if missing:
        raise PinnedOpMissing(f"pinned registry queries missing: {missing}")
    return qs


def registry_pass(spark, qs: dict, order: list[str], data_dir: str) -> dict:
    """Run each query once: build, ``count()``, check, drop caches."""
    from dynamic_etl_pipeline_thesis_ii_spark.queries.dataops_suite import (
        release_shared_caches,
    )

    expected = PINNED["registry_batch"]["ops"]
    sc = spark.sparkContext
    ops = []
    p0 = time.time()
    for name in order:
        rec = {"name": name, "t0": time.time()}
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        a = time.perf_counter()
        try:
            df = qs[name](spark, data_dir)
            b = time.perf_counter()
            rows = df.count()
            c = time.perf_counter()
            rec.update(build_s=b - a, action_s=c - b, wall_s=c - a)
            rec["ok"] = rows == expected[name]
            if not rec["ok"]:
                rec["error"] = f"rows {rows} != pinned {expected[name]}"
        except Exception as exc:  # the op fails, the run goes on
            rec.update(ok=False, error=_err(exc),
                       wall_s=time.perf_counter() - a)
        finally:
            timer.cancel()
        if rec["ok"] and rec["wall_s"] > OP_TIMEOUT_S:
            rec.update(ok=False, error=f"timed out ({rec['wall_s']:.1f} s)")
        rec["t1"] = time.time()
        ops.append(rec)
        release_shared_caches()
        spark.catalog.clearCache()
    return {"t0": p0, "t1": time.time(), "ops": ops}


# ---------------------------------------------------------------------------
# nl_serve_1c
# ---------------------------------------------------------------------------

def check_nl_targets() -> None:
    """Each pinned dataops query must still parse to its pinned target."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        parse_dataops_query,
    )

    for name, spec in PINNED["nl_serve_1c"]["ops"].items():
        plan = parse_dataops_query(spec["query"])
        target = plan["target"] if plan else None
        if target != spec.get("target"):
            raise PinnedOpMissing(f"NL op {name}: query now parses to "
                                  f"{target!r}, pinned {spec.get('target')!r}")


@contextmanager
def nl_server(spark, data_dir: str):
    """The engine's HTTP server on a free localhost port, in-process."""
    from dynamic_etl_pipeline_thesis_ii_spark.plans.orchestrator import (
        FixtureFetcher,
        Pipeline,
    )
    from dynamic_etl_pipeline_thesis_ii_spark.serve import (
        PipelineService,
        make_server,
        pipeline_runner,
    )

    service = PipelineService(pipeline_runner(
        lambda progress: Pipeline(spark, FixtureFetcher(spark, data_dir),
                                  progress=progress)))
    server = make_server(service, "127.0.0.1", 0)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        yield server.server_address[1]
    finally:
        server.shutdown()
        server.server_close()
        thread.join(timeout=30)


def _check_report(spec: dict, status: str, reports: dict) -> str | None:
    if status != "completed":
        return f"status {status!r}"
    for path, want in spec["expect"].items():
        got = reports
        for key in path.split("."):
            got = got.get(key) if isinstance(got, dict) else None
        if got != want:
            return f"{path} = {got!r} != pinned {want!r}"
    return None


def nl_op(port: int, name: str, data_dir: str, out_root: str) -> dict:
    """One NL run: POST /api/pipeline/stream, read SSE until __done__,
    then fetch the report and check it against the pinned fields."""
    spec = PINNED["nl_serve_1c"]["ops"][name]
    out = os.path.join(out_root, f"{name}-{time.time_ns()}")
    body = json.dumps({"query": spec["query"],
                       "options": {"source_dir": data_dir,
                                   "output_path": out}})
    rec = {"name": name, "events": []}
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=OP_TIMEOUT_S)
    rec["t0"] = time.time()
    a = time.perf_counter()
    try:
        conn.request("POST", "/api/pipeline/stream", body,
                     {"Content-Type": "application/json"})
        resp = conn.getresponse()
        done = None
        for line in resp:
            if not line.startswith(b"data: "):
                continue
            ev = json.loads(line[6:])
            rec["events"].append((time.time(), ev))
            if ev["stage"] == "__done__":
                done = ev
                break
        rec["wall_s"] = time.perf_counter() - a
        rec["t1"] = time.time()
        if done is None:
            raise RuntimeError("stream ended without __done__")
        run_id = rec["events"][0][1]["info"]["run_id"]
        conn.close()
        conn = http.client.HTTPConnection("127.0.0.1", port,
                                          timeout=OP_TIMEOUT_S)
        conn.request("GET", f"/api/pipeline/results/{run_id}")
        result = json.loads(conn.getresponse().read())
        rec["error"] = _check_report(spec, done["info"]["status"],
                                     result.get("reports") or {})
        if rec["error"] is None and rec["wall_s"] > OP_TIMEOUT_S:
            rec["error"] = f"timed out ({rec['wall_s']:.1f} s)"
    except Exception as exc:  # the op fails, the client goes on
        rec["error"] = _err(exc)
        rec.setdefault("wall_s", time.perf_counter() - a)
        rec.setdefault("t1", time.time())
    finally:
        conn.close()
    rec["ok"] = rec["error"] is None
    return rec


def nl_pass(port: int, order: list[str], data_dir: str,
            out_root: str) -> dict:
    """Run one pass: one client sends the ops in ``order``, each after
    the previous one completed."""
    p0 = time.time()
    ops = [nl_op(port, name, data_dir, out_root) for name in order]
    return {"t0": p0, "t1": time.time(), "ops": ops}

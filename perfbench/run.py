"""Repository benchmark: GraphQL serving and an LLM-pipeline batch.

One process, one client, closed loop, on ``local[nproc]`` Spark over the
sf0.1 fixture.  Workloads (``workload.py``):

* ``serve_distinct`` / ``serve_repeat``: each request is a JSON POST
  body sent to an in-process ``server.wsgi_app`` serving ``SalesCube``
  (daily rollup attached), ``EventsCube`` and ``DocsCube``;
* ``pipeline_batch``: each operation builds one row of
  ``__spark_entry__.queries()`` and collects it.

``BENCHMARK.json`` gates ``serve_distinct`` and ``pipeline_batch``;
``serve_repeat`` stays runnable as the cache-hit counterpart of
``serve_distinct`` (a traced run reads a plan-cache hit ratio of 1.0).

Usage (from the repository root)::

    python3 perfbench/run.py --workload serve_distinct --seed 1 \\
        --seconds 15 --trace 0

Operations run in whole cycles: one request per template, or one pass
over the pipeline rows.  ``latency_ms`` is the median over cycles of the
mean operation latency within the cycle.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same loop with half the
cycles traced (``spans.py``) and reports the per-layer metrics, writing
the spans to ``.perfbench/traces/<workload>-seed<n>.jsonl``.  Layers a
workload never calls read 0.  Every output is checked against DuckDB
after the timed window (``oracle.py``).  The last line of standard
output is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.

All state a run creates (rollup, Spark local dir, warehouse, temp files)
lives in a fresh ``.perfbench/run-*`` directory that is removed at exit,
so every serving run pays the cold rollup build.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import io  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import oracle  # noqa: E402
import workload as wl  # noqa: E402
from spans import Tracer  # noqa: E402

ROOT = oracle.ROOT
DATA_DIR = oracle.DATA_DIR
STATE_DIR = os.path.join(ROOT, ".perfbench")
WARMUP_CYCLES = {"serve": 3, "pipeline": 1}
DRIVER_MEMORY = "4g"
ROW_METRICS = (("build_s", "s"), ("build_jobs", "count"),
               ("exec_s", "s"), ("exec_jobs", "count"))


def cycle_median(cycles: list[list[float]]) -> float:
    """Median over cycles of the mean operation latency in each cycle.

    A cycle holds one operation of each kind, so its mean weighs every
    kind equally; a rank statistic over all operations would instead sit
    on the boundary between two kinds and jump when they trade places."""
    if not cycles:
        raise ValueError("no cycles measured")
    return statistics.median(statistics.fmean(c) for c in cycles)


def plan_cache_hit(cube, key: str) -> bool:
    """Was the request's plan already cached before it was served?
    Asked by key, so a cache that evicts on insert still reads a miss."""
    return key in cube.plan_cache


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(run_dir: str) -> None:
    """Point every writer at ``run_dir`` and let Spark's Python workers
    import the package (a driver-side ``sys.path`` entry does not reach
    them; ``PYTHONPATH`` does).  Must run before the JVM starts."""
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_GRAFT_NO_PROGRESS": "1",
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": run_dir,
        "JAVA_TOOL_OPTIONS":
            f"-Djava.io.tmpdir={run_dir} -XX:-UsePerfData",
    })
    tempfile.tempdir = run_dir
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def environ_for(body: bytes) -> dict:
    return {"REQUEST_METHOD": "POST", "PATH_INFO": "/graphql",
            "CONTENT_TYPE": "application/json",
            "CONTENT_LENGTH": str(len(body)),
            "wsgi.input": io.BytesIO(body)}


class Bench:
    """Set-up, timed loop, checks and metrics shared by the workloads;
    :class:`Serve` and :class:`Pipeline` supply the operations."""

    kind = ""

    def __init__(self, args: argparse.Namespace, run_dir: str) -> None:
        self.args = args
        self.run_dir = run_dir
        self.spark = None
        self.tracer: Tracer | None = None
        self.setup_parts = {"setup.session_s": 0.0,
                            "setup.rollup_build_s": 0.0,
                            "setup.warmup_s": 0.0}
        self.jobs: list[int] = []  # Spark jobs per traced operation

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        t = time.perf_counter()
        from activecube_graphql_spark import get_spark
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup_parts["setup.session_s"] = time.perf_counter() - t
        self.prepare()
        t = time.perf_counter()
        for _ in range(WARMUP_CYCLES[self.kind]):
            for item in self.next_cycle():
                self.warm(item)
        self.setup_parts["setup.warmup_s"] = time.perf_counter() - t

    # -- timed window ----------------------------------------------------
    def measure(self) -> None:
        """Closed loop over whole cycles until ``--seconds`` have passed.
        With tracing, cycles alternate untraced, traced, traced, untraced
        (so a drift in speed over the window cancels in the overhead
        comparison); untraced cycles run the unpatched code."""
        trace = bool(self.args.trace)
        if trace:
            self.tracer = Tracer()
        block = 4 if trace else 1
        self.cycles: dict[bool, list[list[float]]] = {False: [], True: []}
        self.attempted = 0
        start = time.perf_counter()
        self.setup_s = start - PROCESS_START
        c = 0
        while c % block or time.perf_counter() - start < self.args.seconds:
            traced = trace and c % 4 in (1, 2)
            if traced:
                self.tracer.install()
            try:
                times = []
                for item in self.next_cycle():
                    times.append(self.op(item, traced, self.attempted))
                    self.attempted += 1
            finally:
                if traced:
                    self.tracer.uninstall()
            self.cycles[traced].append(times)
            c += 1

    def _begin_op(self, rid: int) -> None:
        """Open a traced operation in a Spark job group of its own."""
        self.spark.sparkContext.setJobGroup(f"perfbench-{rid}", "perfbench")
        self.tracer.begin_op(rid)

    def _jobs(self, rid: int) -> int:
        """Spark jobs started so far in operation ``rid``'s job group."""
        return len(self.spark.sparkContext.statusTracker()
                   .getJobIdsForGroup(f"perfbench-{rid}"))

    def _end_op(self, rid: int) -> int:
        """Close a traced operation; returns the jobs it started."""
        self.tracer.end_op()
        self.tracer.attach_catalyst()
        return self._jobs(rid)

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict:
        return {"latency_ms": (1000.0 * cycle_median(self.cycles[False]),
                               "ms"),
                "setup_s": (self.setup_s, "s")}

    def per_layer(self) -> dict:
        from activecube_graphql_spark.sources import registry
        layers, unattributed_pct, n = self.tracer.layer_ms()
        out = {name: (v, "ms") for name, v in layers.items()}
        plain = cycle_median(self.cycles[False])
        out.update({
            "spark.jobs_per_op": (sum(self.jobs) / n, "count"),
            "sources.schema_memo_entries":
                (len(registry._PARQUET_SCHEMA_MEMO), "count"),
            "trace.overhead_pct": (100.0 * (cycle_median(
                self.cycles[True]) - plain) / plain, "%"),
            "trace.unattributed_pct": (unattributed_pct, "%"),
        })
        out.update({k: (v, "s") for k, v in self.setup_parts.items()})
        out.update(self.serve_layers())
        out.update(self.row_layers())
        return out

    def run(self) -> dict:
        try:
            self.setup()
            self.measure()
            metrics = self.per_layer() if self.args.trace \
                else self.end_to_end()
            # the SQL printer validates sub-fields against a live context
            failed = self.check()
        finally:
            if self.spark is not None:
                stop_spark(self.spark)
        if self.args.trace:
            os.makedirs(os.path.join(STATE_DIR, "traces"), exist_ok=True)
            self.tracer.write(os.path.join(
                STATE_DIR, "traces",
                f"{self.args.workload}-seed{self.args.seed}.jsonl"))
        return {"correct": failed == 0, "attempted": self.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}


class Serve(Bench):
    kind = "serve"

    def prepare(self) -> None:
        t = time.perf_counter()
        from activecube_graphql_spark.cubes import (DocsCube, EventsCube,
                                                    SalesCube)
        from activecube_graphql_spark.plans.preagg import attach_daily_rollup
        from activecube_graphql_spark.server import wsgi_app
        sales = SalesCube(self.spark, DATA_DIR)
        attach_daily_rollup(sales, DATA_DIR,
                            cache_root=os.path.join(self.run_dir, "preagg"))
        self.cubes = {"sales": sales,
                      "events": EventsCube(self.spark, DATA_DIR),
                      "documents": DocsCube(self.spark, DATA_DIR)}
        self.app = wsgi_app(self.cubes)
        self.setup_parts["setup.rollup_build_s"] = time.perf_counter() - t
        self.stream = wl.requests(self.args.workload, self.args.seed)
        self.sent: list[tuple[wl.Request, str, bytes]] = []
        self.plan_hits: list[bool] = []

    def next_cycle(self) -> list[wl.Request]:
        return [next(self.stream) for _ in wl.TEMPLATES]

    def call(self, environ: dict) -> tuple[str, bytes]:
        """One request through the WSGI app: (status, response body)."""
        status: list[str] = []
        out = b"".join(self.app(environ, lambda s, h: status.append(s)))
        return status[0], out

    def warm(self, req: wl.Request) -> None:
        status, out = self.call(environ_for(req.body()))
        if status != "200 OK" or json.loads(out).get("errors"):
            raise RuntimeError(f"warm-up request failed: {out[:300]!r}")

    def op(self, req: wl.Request, traced: bool, rid: int) -> float:
        """Serve one request; returns its latency in seconds, timed from
        the call into ``wsgi_app`` until the response body is returned."""
        environ = environ_for(req.body())
        if traced:
            self.plan_hits.append(plan_cache_hit(
                self.cubes[wl.BY_NAME[req.template].cube], self._key(req)))
            self._begin_op(rid)
        t0 = time.perf_counter()
        status, out = self.call(environ)
        elapsed = time.perf_counter() - t0
        if traced:
            self.jobs.append(self._end_op(rid))
        self.sent.append((req, status, out))
        return elapsed

    def _key(self, req: wl.Request) -> str:
        """The engine's plan-cache key for ``req``."""
        from activecube_graphql_spark.graphql import graphql_query
        template = wl.BY_NAME[req.template]
        return graphql_query(self.cubes[template.cube], template.document,
                             req.variables).build_query().cache_key()

    def check(self) -> int:
        """Compare every response with DuckDB; returns failed requests."""
        duck = oracle.Oracle(DATA_DIR)
        verdicts: dict[tuple, str | None] = {}
        failed = 0
        try:
            for req, status, out in self.sent:
                key = (req.key(), out)
                if key not in verdicts:
                    verdicts[key] = _verdict(duck, req, status, out)
                    if verdicts[key]:
                        print(f"[perfbench] {req.template} "
                              f"{req.variables}: {verdicts[key]}",
                              file=sys.stderr)
                failed += verdicts[key] is not None
        finally:
            duck.close()
        return failed

    def serve_layers(self) -> dict:
        # rollup choice read back from the engine's representation-choice
        # cache under each request's key
        routes = [self.cubes[wl.BY_NAME[r.template].cube]
                  .rep_choice_cache.get(self._key(r)) is not None
                  for r, _, _ in self.sent]
        return {
            "query.plan_cache_hit_ratio":
                (sum(self.plan_hits) / len(self.plan_hits), "ratio"),
            "query.rollup_route_ratio": (sum(routes) / len(routes), "ratio"),
            "query.plan_cache_entries": (sum(
                len(c.plan_cache) for c in self.cubes.values()), "count"),
            "query.rep_choice_cache_entries": (sum(
                len(c.rep_choice_cache) for c in self.cubes.values()),
                "count"),
        }

    def row_layers(self) -> dict:
        return {f"{row}.{name}": (0.0, unit) for row in wl.PIPELINE_ROWS
                for name, unit in ROW_METRICS}


class Pipeline(Bench):
    kind = "pipeline"

    def prepare(self) -> None:
        import __spark_entry__
        self.queries = __spark_entry__.queries()
        self.stream = wl.passes(self.args.seed)
        self.outputs: list[tuple[str, str]] = []  # (row, digest)
        self.rows: dict[str, list[tuple]] = {r: [] for r in wl.PIPELINE_ROWS}

    def next_cycle(self) -> list[str]:
        return next(self.stream)

    def warm(self, row: str) -> None:
        self.queries[row](self.spark, DATA_DIR).collect()

    def op(self, row: str, traced: bool, rid: int) -> float:
        """Build one pipeline row (including its eager jobs) and collect
        it; returns the wall time of both in seconds."""
        build = self.queries[row]
        if traced:
            self._begin_op(rid)
            t0 = time.perf_counter()
            with self.tracer.span("pipeline.build"):
                df = build(self.spark, DATA_DIR)
            build_s = time.perf_counter() - t0
            build_jobs = self._jobs(rid)
            t0 = time.perf_counter()
            rows = df.collect()
            exec_s = time.perf_counter() - t0
            jobs = self._end_op(rid)
            self.jobs.append(jobs)
            self.rows[row].append((build_s, build_jobs, exec_s,
                                   jobs - build_jobs))
        else:
            t0 = time.perf_counter()
            df = build(self.spark, DATA_DIR)
            build_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            rows = df.collect()
            exec_s = time.perf_counter() - t0
        self.outputs.append((row, oracle.digest(
            df.columns, [[r[c] for c in df.columns] for r in rows])))
        return build_s + exec_s

    def check(self) -> int:
        """Compare every row output's digest with its oracle's."""
        expected = oracle.PipelineOracle(DATA_DIR)
        failed = 0
        try:
            for row, got in self.outputs:
                if got != expected.digest(row):
                    print(f"[perfbench] {row}: output differs from its "
                          "oracle", file=sys.stderr)
                    failed += 1
        finally:
            expected.close()
        return failed

    def serve_layers(self) -> dict:
        return {"query.plan_cache_hit_ratio": (0.0, "ratio"),
                "query.rollup_route_ratio": (0.0, "ratio"),
                "query.plan_cache_entries": (0, "count"),
                "query.rep_choice_cache_entries": (0, "count")}

    def row_layers(self) -> dict:
        out = {}
        for row, seen in self.rows.items():
            for i, (name, unit) in enumerate(ROW_METRICS):
                out[f"{row}.{name}"] = (
                    statistics.fmean(s[i] for s in seen), unit)
        return out


def _verdict(duck: oracle.Oracle, req: wl.Request, status: str,
             out: bytes) -> str | None:
    """None when the response is a 200 whose rows match DuckDB."""
    if status != "200 OK":
        return f"HTTP {status}"
    payload = json.loads(out)
    if payload.get("errors"):
        return f"errors {payload['errors']}"
    template = wl.BY_NAME[req.template]
    return oracle.compare(payload["data"][template.cube],
                          duck.rows(template.cube, template.document,
                                    req.variables))


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "activecube_graphql_spark")):
        print("perfbench: run from a checkout of the repository "
              "(activecube_graphql_spark/ not found)", file=sys.stderr)
        return 2
    if not os.path.isdir(DATA_DIR):
        print(f"perfbench: fixture {DATA_DIR} not found", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its state
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(143))
    os.makedirs(STATE_DIR, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=STATE_DIR)
    bench = Pipeline if args.workload == "pipeline_batch" else Serve
    try:
        isolate(run_dir)
        result = bench(args, run_dir).run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

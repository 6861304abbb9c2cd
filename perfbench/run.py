#!/usr/bin/env python3
"""sparkhdb benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 5 --trace 0

Workloads: ``interactive`` and ``pipeline_batch`` (the ones BENCHMARK.json
lists), and ``image_dense`` and ``query_wide``, the two halves of
``interactive``. The run generates its inputs from ``--seed`` once, runs
the program's own set-up on them several times (fresh Spark session,
store write or table registration), sends one warm request per request
type, and reports the median set-up plus the warm requests as the set-up
time; then it replays whole blocks of the seeded request stream until
``--seconds`` have passed, checks every response against a DuckDB
oracle, and prints one JSON result as the last stdout line. The line
before it is a JSON detail record: what the run was measured on (cores,
driver memory, versions, commit, seed), the tail percentile used, and any
failures.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` reads Spark's
status stores after every request, prints the per-layer metrics and
writes the per-request layer record to ``--trace-out`` (default
``.perfbench_traces/<workload>-seed<seed>.json`` under the checkout).

Everything the run writes (generated stores, Spark local and warehouse
dirs) lives in a temporary directory under the checkout, removed at exit.
Exit code 0 when every response was correct, 1 when one was not, 2 when
the package under test cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

#: process start, for the phase times in the detail record
T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import sparktrace  # noqa: E402
import workloads  # noqa: E402

#: set-ups per run; setup_s is their median. A batch workload's timed
#: passes each start with a set-up, so it runs one rep before the warm
#: pass and at least SETUP_REPS - 1 timed passes.
SETUP_REPS = 3

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
}
SPARK_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.input_bytes": "B", "spark.input_rows": "count",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.job_wall_s": "s", "spark.exec_busy_frac": "fraction",
    "driver.self_s": "s",
}
REQUEST_LAYERS = ("resolve", "extrema", "rasterline", "render", "search")
PER_LAYER = {
    **SPARK_LAYER,
    **{f"{name}.s": "s" for name in REQUEST_LAYERS},
    "other.s": "s", "overlap.s": "s",
    "resolve.jobs": "count", "rasterline.exec_cpu_s": "s",
    "rasterline.tasks": "count", "render.rows_out": "count", "png.s": "s",
    "store.write_s": "s", "store.bytes_per_point": "B",
    "store.files": "count", "session.start_s": "s",
    "scan.rows_per_result": "ratio",
    **{
        f"pipeline.{m}.{k}": u
        for m in workloads.PIPELINE_MODULES
        for k, u in (("build_s", "s"), ("exec_s", "s"), ("exec_cpu_s", "s"),
                     ("shuffle_write_bytes", "B"))
    },
    "trace.overhead_frac": "fraction",
    "peak_rss_mb": "MB",
}

#: job call site (file suffix, enclosing function) -> layer
LAYER_SITES = {
    ("web_maxiv_hdbppviewer_spark/api/lifecycle.py", "_resolve"): "resolve",
    ("web_maxiv_hdbppviewer_spark/api/lifecycle.py", "image_aggregates"): "extrema",
    ("web_maxiv_hdbppviewer_spark/api/lifecycle.py", "_axis_image"): "rasterline",
    ("web_maxiv_hdbppviewer_spark/api/render.py", "*"): "render",
    ("perfbench/workloads.py", "_search"): "search",
}


def tail(values: list[float]) -> tuple[float, int, int]:
    """(value, percentile, samples): the highest whole percentile with at
    least ten samples above it (nearest-rank). Below twenty samples that
    percentile would not lie above the median, and the maximum
    (percentile 100) is used instead."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100, n
    p = (100 * (n - 10)) // n
    rank = max(1, -(-p * n // 100))
    return xs[rank - 1], p, n


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _isolate(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Python UDF
    workers import the package from the checkout."""
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # both JVMs spark-submit starts: no hsperfdata file outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


class Runner:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.wl = workloads.WORKLOADS[args.workload](args.size)
        self.spark = None
        self.png_s = 0.0
        self.sites = sparktrace.CallSiteMap(
            {(s.replace("/", os.sep), f): layer for (s, f), layer in LAYER_SITES.items()}
        )

    # -- session -------------------------------------------------------

    def session(self):
        from web_maxiv_hdbppviewer_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.reader = sparktrace.GroupReader(self.spark, self.sites)
        return self.spark

    def shutdown(self) -> float:
        """Stop Spark and its JVM; return the JVM's peak RSS in MB."""
        if self.spark is None:
            return 0.0
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        rss = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
        self.spark.stop()
        self.spark = None
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        return rss

    # -- phases --------------------------------------------------------

    def setup(self) -> None:
        """The inputs are generated once, untimed (benchmark code). Each
        rep starts a fresh session and runs the program's set-up on them;
        the warm requests follow the last rep, once. ``setup_s`` is the
        median rep plus the warm requests (see ``setup_result``)."""
        t = time.perf_counter()
        self.wl.generate(os.path.join(self.work, "inputs"), self.args.seed)
        self.generate_s = time.perf_counter() - t
        self.reps, self.starts, self.info = [], [], {}
        for rep in range(1 if self.wl.batch else SETUP_REPS):
            rep_dir = os.path.join(self.work, f"setup{rep}")
            t = time.perf_counter()
            self.session()
            self.starts.append(time.perf_counter() - t)
            for k, v in self.wl.prepare(self.spark, rep_dir).items():
                self.info.setdefault(k, []).append(v)
            self.reps.append(time.perf_counter() - t)
            if rep:
                shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
        # one warm request per request type, once, on the final set-up; a
        # batch workload's warm request is one pass down the timed path
        t = time.perf_counter()
        self.warm = []
        for req in self.wl.warm_requests():
            try:
                resp = self._noop(req) if self.wl.batch else self.wl.execute(req)
                self.warm.append((req, resp, None))
            except Exception as e:  # reported by check()
                self.warm.append((req, None, repr(e)[:500]))
        self.warm_s = time.perf_counter() - t

    def setup_result(self) -> dict:
        out = {k: statistics.median(v) for k, v in self.info.items()}
        out["session.start_s"] = statistics.median(self.starts)
        return {
            "setup_s": statistics.median(self.reps) + self.warm_s, "reps_s": self.reps,
            "warm_s": self.warm_s, "generate_s": self.generate_s, "layer": out,
        }

    def _noop(self, req: dict) -> None:
        """Build a pipeline query and force it through a noop sink."""
        self.wl.build(self.spark, req).write.format("noop").mode("overwrite").save()

    def _collect(self, group: str) -> dict:
        t = time.perf_counter()
        out = self.reader.collect_group(group)
        self.trace_s += time.perf_counter() - t
        return out

    def _request(self, group: str, req: dict) -> tuple[dict, object]:
        sc = self.spark.sparkContext
        traced = bool(self.args.trace)
        rec = {"request": workloads.describe(req)}
        self.png_s = 0.0
        if req["kind"] == "pipeline":
            sc.setJobGroup(group + "-build", req["query"])
            t = time.perf_counter()
            try:
                df = self.wl.build(self.spark, req)
                rec["build_s"] = time.perf_counter() - t
                sc.setJobGroup(group + "-exec", req["query"])
                t2 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                rec["exec_s"] = time.perf_counter() - t2
                resp, rec["error"] = None, None
            except Exception as e:  # counted as a failed request
                resp, rec["error"] = None, repr(e)[:500]
            rec["wall_s"] = time.perf_counter() - t
            if traced and rec["error"] is None:
                rec["build"] = self._collect(group + "-build")
                rec["exec"] = self._collect(group + "-exec")
            return rec, resp
        sc.setJobGroup(group, req["kind"])
        t = time.perf_counter()
        try:
            resp, rec["error"] = self.wl.execute(req), None
        except Exception as e:  # counted as a failed request
            resp, rec["error"] = None, repr(e)[:500]
        rec["wall_s"] = time.perf_counter() - t
        if traced:
            rec["png_s"] = self.png_s
            rec["spark"] = self._collect(group)
            if resp is not None:
                rec["result_rows"] = self.wl.result_rows(req, resp)
        return rec, resp

    def measure(self) -> tuple[list, list]:
        """Whole blocks until --seconds have passed, at least one (at
        least SETUP_REPS - 1 passes of a batch workload)."""
        rng = random.Random(self.args.seed)
        blocks, done = [], []
        self.memo_at_pass = []
        least = SETUP_REPS - 1 if self.wl.batch else 1
        start = time.perf_counter()
        while len(blocks) < least or time.perf_counter() - start < self.args.seconds:
            b = len(blocks)
            block = self.wl.block(rng)
            if self.wl.batch:
                # every pass in a fresh session with empty memos: a
                # set-up rep, timed as one but not part of the pass
                t = time.perf_counter()
                self.session()
                self.starts.append(time.perf_counter() - t)
                self.wl.reopen(self.spark)
                self.reps.append(time.perf_counter() - t)
                self.memo_at_pass.append(workloads.memo_entries())
            t = time.perf_counter()
            self.trace_s = 0.0
            for i, req in enumerate(block):
                rec, resp = self._request(f"b{b}r{i}", req)
                done.append((req, resp, rec))
            blocks.append({"wall_s": time.perf_counter() - t, "trace_s": self.trace_s})
        self.memo_after_pass = workloads.memo_entries()
        self.spark.sparkContext.setJobGroup("checks", "correctness checks")
        return blocks, done

    def check(self, done: list) -> list[str]:
        """Every warm and timed response against the oracle. The
        pipeline's timed passes write to a noop sink, so each query is
        collected once more in the last pass's session and that result
        is judged."""
        con = self.wl.oracle()
        verdict = {}
        if self.wl.batch:
            for req in self.wl.block(None):
                try:
                    verdict[req["query"]] = self.wl.check(con, req, self.wl.execute(req))
                except Exception as e:  # counted against every pass
                    verdict[req["query"]] = repr(e)[:500]
        failures = [
            f"warm {req['kind']}: {msg}" for req, resp, err in self.warm
            if (msg := err or (verdict[req["query"]] if self.wl.batch else self.wl.check(con, req, resp)))
        ]
        for req, resp, rec in done:
            if rec["error"] is not None:
                msg = rec["error"]
            elif req["kind"] == "pipeline":
                msg = verdict[req["query"]]
            else:
                msg = self.wl.check(con, req, resp)
            rec["correct"] = msg is None
            if msg:
                failures.append(msg)
        return failures


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(runner: Runner, setup: dict, blocks: list, done: list) -> tuple[dict, list]:
    """Per-layer metrics, totals per block (per pass for the pipeline) so
    that they add up like ``wall_s``, plus one accounting row per
    interactive request."""
    traced = [rec for _, _, rec in done if rec["error"] is None]
    out = {k: 0.0 for k in PER_LAYER}
    out.update(setup["layer"])
    rows = []
    cpus = runner.cpus
    n_blocks = len(blocks)
    if runner.wl.batch:
        groups = [g for r in traced for g in (r["build"], r["exec"])]
        for k in sparktrace.COUNTERS:
            out[f"spark.{k}"] = sum(g[k] for g in groups) / n_blocks
        out["driver.self_s"] = sum(r["wall_s"] for r in traced) / n_blocks - out["spark.job_wall_s"]
        out["other.s"] = out["spark.job_wall_s"]
        for m in workloads.PIPELINE_MODULES:
            mine = [r for r in traced if r["request"]["module"] == m]
            out[f"pipeline.{m}.build_s"] = sum(r["build_s"] for r in mine) / n_blocks
            out[f"pipeline.{m}.exec_s"] = sum(r["exec_s"] for r in mine) / n_blocks
            out[f"pipeline.{m}.exec_cpu_s"] = sum(r["exec"]["exec_cpu_s"] for r in mine) / n_blocks
            out[f"pipeline.{m}.shuffle_write_bytes"] = sum(r["exec"]["shuffle_write_bytes"] for r in mine) / n_blocks
    else:
        for k in sparktrace.COUNTERS:
            out[f"spark.{k}"] = sum(r["spark"][k] for r in traced) / n_blocks
        for r in traced:
            sp = r["spark"]
            lay = {name: sp["layers"].get(name, {}).get("s", 0.0) for name in (*REQUEST_LAYERS, "other")}
            rows.append({
                **r["request"], "wall_s": r["wall_s"],
                **{f"{k}.s": v for k, v in lay.items()},
                "overlap.s": sum(lay.values()) - sp["job_wall_s"],
                "driver.self_s": r["wall_s"] - sp["job_wall_s"],
                "png.s": r["png_s"],
            })
        for key in (*(f"{n}.s" for n in (*REQUEST_LAYERS, "other", "overlap", "png")), "driver.self_s"):
            out[key] = sum(row[key] for row in rows) / n_blocks
        for name, key in (("resolve", "jobs"), ("rasterline", "exec_cpu_s"), ("rasterline", "tasks")):
            out[f"{name}.{key}"] = sum(r["spark"]["layers"].get(name, {}).get(key, 0) for r in traced) / n_blocks
        # rows per /query response
        queries = [r for r in traced if r["request"]["kind"] == "query"]
        out["render.rows_out"] = _mean(r.get("result_rows", 0) for r in queries)
        result_rows = sum(r.get("result_rows", 0) for r in traced)
        out["scan.rows_per_result"] = sum(r["spark"]["input_rows"] for r in traced) / max(result_rows, 1)
    busy = out["spark.job_wall_s"] * cpus
    out["spark.exec_busy_frac"] = out["spark.exec_run_s"] / busy if busy else 0.0
    # traced wall over the same wall without the status-store reads
    out["trace.overhead_frac"] = statistics.median(
        b["trace_s"] / (b["wall_s"] - b["trace_s"]) for b in blocks
    )
    return out, rows


def rasterline_share(rows: list) -> dict:
    """Per /image window class: the line-raster jobs' share of latency,
    summed over the class's requests."""
    images = [r for r in rows if r["kind"] == "image"]
    out = {}
    for key in sorted({r["window"] for r in images}, key=lambda w: (w == "store", len(w), w)):
        mine = [r for r in images if r["window"] == key]
        out[key] = sum(r["rasterline.s"] for r in mine) / sum(r["wall_s"] for r in mine)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out")
    ap.add_argument("--size", choices=sorted(workloads.SIZES), default="bench")
    args = ap.parse_args(argv)

    try:
        import __spark_entry__  # noqa: F401
        import web_maxiv_hdbppviewer_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: package under test not importable: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(os.path.join(ROOT, ".perfbench_tmp"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_tmp"))
    _isolate(work)
    runner = Runner(args, work)
    if args.trace:
        sparktrace.per_thread_call_sites()
        runner.sites.preload(ROOT)
        from web_maxiv_hdbppviewer_spark.api import png

        inner = png.render_png_base64
        lock = threading.Lock()  # render_image encodes its axes on a pool

        def timed_png(*a, **kw):
            t = time.perf_counter()
            try:
                return inner(*a, **kw)
            finally:
                with lock:
                    runner.png_s += time.perf_counter() - t

        png.render_png_base64 = timed_png
    try:
        phases = {"start": time.perf_counter() - T_START}
        t = time.perf_counter()
        runner.setup()
        phases["setup"] = time.perf_counter() - t
        spark = runner.spark
        stamp = {
            "workload": args.workload, "seed": args.seed, "size": args.size,
            "nproc": runner.cpus,
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "spark.master": spark.sparkContext.master,
            "spark.driver.memory": spark.sparkContext.getConf().get("spark.driver.memory", None),
            "spark": spark.version, "python": platform.python_version(),
            "commit": _git_commit(),
        }
        t = time.perf_counter()
        blocks, done = runner.measure()
        phases["measure"] = time.perf_counter() - t
        setup = runner.setup_result()
        t = time.perf_counter()
        failures = runner.check(done)
        phases["check"] = time.perf_counter() - t
        layers, rows = layer_metrics(runner, setup, blocks, done) if args.trace else ({}, [])
        peak_rss_mb = runner.shutdown() + _vm_hwm_mb("self")
    finally:
        runner.shutdown()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass

    # a request is one /image or /query call, or one query of a pass
    lat = [rec["wall_s"] for _, _, rec in done]
    tail_v, tail_p, tail_n = tail(lat)
    attempted = len(runner.warm) + len(done)
    failed = len(failures)
    detail = {
        "stamp": stamp,
        "blocks": len(blocks), "requests": len(done),
        "generate_s": setup["generate_s"],
        "setup_reps_s": setup["reps_s"], "warm_s": setup["warm_s"],
        "latency_tail": {"percentile": tail_p, "samples": tail_n},
        "block_walls_s": [round(b["wall_s"], 4) for b in blocks],
        "latencies_s": [round(x, 4) for x in lat],
        "failed_frac": failed / attempted,
        "failures": failures[:10],
        "peak_rss_mb": peak_rss_mb,
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
    }
    if runner.wl.batch:
        # process-global memo entries at the start of every timed pass (0:
        # each pass pays its own memo builds) and after the last one
        detail["memo_entries"] = {"pass_start": runner.memo_at_pass, "after_pass": runner.memo_after_pass}
    if args.trace:
        if any(r["kind"] == "image" for r in rows):
            detail["rasterline_share"] = rasterline_share(rows)
        layers["peak_rss_mb"] = peak_rss_mb
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        path = args.trace_out or os.path.join(
            ROOT, ".perfbench_traces", f"{args.workload}-seed{args.seed}.json"
        )
        os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**detail, "metrics": layers, "accounting": rows,
                       "records": [rec for _, _, rec in done]}, f, indent=1, default=str)
        detail["trace_file"] = path
    else:
        values = {
            "setup_s": setup["setup_s"],
            "wall_s": statistics.median(b["wall_s"] for b in blocks),
            "latency_p50_s": statistics.median(lat),
            "latency_tail_s": tail_v,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

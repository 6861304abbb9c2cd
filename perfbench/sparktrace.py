"""Per-request Spark counters, read from Spark's own status stores.

The benchmark puts every request (or pipeline phase) in its own job group.
After the request returns, ``collect_group`` reads the group's jobs and
their stages from the driver's ``AppStatusStore`` (populated with the UI
off) and folds them into counters. Jobs are attributed to layers by call
site: PySpark names each job after the first user frame that called into
Spark ("collect at <file>:<line>"). ``CallSiteMap`` resolves that line to
its enclosing function once, at start-up, by parsing the source, so the
layer table is keyed by function name and survives shifted lines.
"""

from __future__ import annotations

import ast
import os
import re
import threading

from py4j.protocol import Py4JJavaError

_CALL_SITE = re.compile(r" at (.+\.py):(\d+)$")


class CallSiteMap:
    """(file, line) -> enclosing function -> layer name."""

    def __init__(self, layers: dict[tuple[str, str], str]):
        # layers: {(path suffix, function name): layer}
        self.layers = layers
        self._funcs: dict[str, list[tuple[int, int, str]]] = {}

    def _spans(self, path: str) -> list[tuple[int, int, str]]:
        if path not in self._funcs:
            spans = []
            try:
                with open(path) as f:
                    tree = ast.parse(f.read())
                for node in ast.walk(tree):
                    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        spans.append((node.lineno, node.end_lineno, node.name))
            except (OSError, SyntaxError):
                pass
            # innermost function first: the narrowest span that holds a line
            spans.sort(key=lambda s: s[1] - s[0])
            self._funcs[path] = spans
        return self._funcs[path]

    def preload(self, root: str) -> None:
        """Parse the layer files now, at start-up."""
        for suffix, _ in self.layers:
            self._spans(os.path.join(root, suffix))

    def layer(self, job_name: str) -> str:
        m = _CALL_SITE.search(job_name or "")
        if not m:
            return "other"
        path, line = m.group(1), int(m.group(2))
        for (suffix, fname), layer in self.layers.items():
            if not path.endswith(suffix):
                continue
            if fname == "*" or fname == next(
                (n for a, b, n in self._spans(path) if a <= line <= b), None
            ):
                return layer
        return "other"


def per_thread_call_sites() -> None:
    """PySpark tracks call-site nesting in ONE class-wide counter, so a
    Spark call on a second Python thread (``render_image`` runs its axes
    on a small pool) skips setting its call site while another thread is
    inside a Spark call, and its jobs get a JVM-internal name. Keep the
    nesting depth per thread instead, so every job names its own Python
    caller. Only the call-site label changes."""
    from pyspark import traceback_utils as tu

    local = threading.local()

    def enter(self):
        depth = getattr(local, "depth", 0)
        if depth == 0:
            self._context._jsc.setCallSite(self._call_site)
        local.depth = depth + 1

    def exit_(self, *exc):
        local.depth -= 1
        if local.depth == 0:
            self._context._jsc.setCallSite(None)

    tu.SCCallSiteSync.__enter__ = enter
    tu.SCCallSiteSync.__exit__ = exit_


def _opt(o):
    return o.get() if o.isDefined() else None


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end) millisecond intervals, seconds."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


COUNTERS = (
    "jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "input_bytes", "input_rows", "shuffle_write_bytes", "spill_bytes",
    "job_wall_s",
)


class GroupReader:
    """Reads one job group's jobs and stages after the group's work ends."""

    def __init__(self, spark, sites: CallSiteMap):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sites = sites

    def collect_group(self, group: str) -> dict:
        """Counters for the whole group plus per-layer job time
        (union of the layer's job intervals) and per-layer counters."""
        self.jsc.listenerBus().waitUntilEmpty()
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        out = {k: 0 for k in COUNTERS}
        layers: dict[str, dict] = {}
        all_iv: list[tuple[int, int]] = []
        seen_stages: set[int] = set()
        for jid in job_ids:
            jd = self.store.job(jid)
            sub, end = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is None or end is None:
                continue
            iv = (sub.getTime(), end.getTime())
            all_iv.append(iv)
            layer = self.sites.layer(jd.name())
            lay = layers.setdefault(layer, {"iv": [], "jobs": 0, "tasks": 0, "exec_cpu_s": 0.0})
            lay["iv"].append(iv)
            lay["jobs"] += 1
            out["jobs"] += 1
            stage_ids = jd.stageIds()
            for k in range(stage_ids.length()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                try:
                    sd = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage already evicted from the store
                    continue
                if str(sd.status()) == "SKIPPED":
                    continue
                seen_stages.add(sid)
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["exec_run_s"] += sd.executorRunTime() / 1e3
                out["exec_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["input_bytes"] += sd.inputBytes()
                out["input_rows"] += sd.inputRecords()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                lay["tasks"] += sd.numCompleteTasks()
                lay["exec_cpu_s"] += sd.executorCpuTime() / 1e9
        out["job_wall_s"] = _union_s(all_iv)
        out["layers"] = {
            name: {
                "s": _union_s(v["iv"]), "jobs": v["jobs"],
                "tasks": v["tasks"], "exec_cpu_s": v["exec_cpu_s"],
            }
            for name, v in layers.items()
        }
        return out

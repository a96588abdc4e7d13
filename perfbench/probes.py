"""Measurement probes: in-memory spans around layer calls, per-op Spark
status-store metrics, per-process CPU split and peak RSS.

Nothing here changes the measured program. Spans come from wrappers the
benchmark installs, from outside, around public functions and methods of
the GLM modules, and only in traced runs.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import resource
import threading
import time
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")

# layer -> (module path, attribute names). A dotted name wraps a method.
# Solver kernels are wrapped in glm.path's namespace, the only caller.
LAYER_TARGETS = {
    "path": ("sgdnet_spark.glm.path", [
        "gaussian_path", "binomial_path", "multinomial_path",
        "gaussian_path_fista", "binomial_path_fista", "multinomial_path_fista"]),
    "solvers": ("sgdnet_spark.glm.path", ["enet_cd_gram", "wls_enet_cd", "group_cd_gram"]),
    "providers": ("sgdnet_spark.glm.providers", [
        f"{cls}.{m}" for cls in ("LocalXY", "SparkXY") for m in (
            "moments", "moments_diag", "irls_binomial", "irls_multinomial_all",
            "grad_binomial", "grad_multinomial", "gradient_gaussian", "cov_vec")]),
    "suffstats": ("sgdnet_spark.glm.suffstats", [
        "moments_jvm", "moments_and_gram", "moments_diag", "gradient_gaussian", "cov_vec",
        "gradient_binomial", "gradient_multinomial", "weighted_quadratic",
        "weighted_quadratic_multinomial_all", "collect_xy", "validate_weights_offsets"]),
    "sparse": ("sgdnet_spark.glm.sparse", [
        "SparseSparkXY.moments_diag", "SparseSparkXY.moments_diag_onehot",
        "SparseSparkXY.gradient_gaussian", "SparseSparkXY.cov_vec",
        "SparseSparkXY.grad_binomial", "SparseSparkXY.grad_multinomial"]),
    "predict": ("sgdnet_spark.glm.sgdnet", ["SgdnetFit.predict"]),
    "score": ("sgdnet_spark.glm", ["score"]),
}


class Spans:
    """Spans kept in memory as (id, parent id, op, layer, name, start, end).

    The parent is the innermost open span on the same thread; ``op`` is
    the benchmark op that was running, so the spans of one op share it."""

    def __init__(self):
        self.records: list[tuple] = []
        self.op: str | None = None
        self._ids = itertools.count()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _wrap(self, layer: str, name: str, fn):
        spans = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            stack = spans._stack()
            sid = next(spans._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                stack.pop()
                spans.records.append((sid, parent, spans.op, layer, name, t0,
                                      time.perf_counter()))

        return wrapper

    def install(self, layers=None) -> None:
        import importlib

        for layer, (modname, names) in LAYER_TARGETS.items():
            if layers is not None and layer not in layers:
                continue
            mod = importlib.import_module(modname)
            for dotted in names:
                owner, attr = mod, dotted
                if "." in dotted:
                    cls, attr = dotted.split(".")
                    owner = getattr(mod, cls)
                orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
                self._undo.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(layer, dotted, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    def layer_totals(self) -> dict[str, tuple[float, int]]:
        """Per layer: (self time, calls). A span's self time is its
        duration minus the durations of its child spans."""
        child_s: dict[int, float] = defaultdict(float)
        for _, parent, _, _, _, start, end in self.records:
            if parent is not None:
                child_s[parent] += end - start
        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for sid, _, _, layer, _, start, end in self.records:
            out[layer][0] += end - start - child_s[sid]
            out[layer][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sid, parent, op, layer, name, start, end in self.records:
                fh.write(json.dumps({"id": sid, "parent": parent, "op": op, "layer": layer,
                                     "name": name, "start": start, "dur_s": end - start}) + "\n")


# ---------------------------------------------------------------- processes

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def process_tree(root: int | None = None) -> dict[str, list[int]]:
    """PIDs under the driver, classified as the driver itself, the JVM,
    or Python workers (pyspark.daemon and the workers it forks)."""
    root = root or os.getpid()
    groups: dict[str, list[int]] = {"driver_py": [root], "jvm": [], "py_workers": []}
    stack = [(c, None) for c in _children(root)]
    while stack:
        pid, inherited = stack.pop()
        cmd = _cmdline(pid)
        kind = inherited
        if kind is None:
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                kind = "py_workers"
            elif "java" in cmd.split(" ", 1)[0] or "org.apache.spark" in cmd:
                kind = "jvm"
        if kind is not None:
            groups[kind].append(pid)
        # daemon children are workers; the JVM's children are classified
        # on their own command line
        child_kind = "py_workers" if kind == "py_workers" else None
        stack += [(c, child_kind) for c in _children(pid)]
    return groups


def cpu_seconds(groups: dict[str, list[int]]) -> dict[str, float]:
    """utime+stime of each live process plus its reaped children's."""
    out = {}
    for kind, pids in groups.items():
        ticks = 0
        for pid in pids:
            st = _stat(pid)
            if st is not None:
                ticks += sum(int(v) for v in st[11:15])
        out[kind] = ticks / _TICK
    return out


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set of this process, or of ``pid``."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise OSError(f"no VmHWM for pid {pid}")


class CpuSplit:
    """CPU seconds per process class over a window. The tree is re-read
    at the end: a worker forked during the window counts from zero, and
    one that exited was reaped by pyspark.daemon, whose cutime/cstime
    then carries its ticks."""

    def __enter__(self):
        self.before = cpu_seconds(process_tree())
        return self

    def __exit__(self, *exc):
        after = cpu_seconds(process_tree())
        self.seconds = {k: after[k] - self.before[k] for k in after}
        return False


# ------------------------------------------------------------- spark status

class JobGroup:
    """Runs a block under a Spark job group and sums the status-store
    metrics of every stage of every job in the group."""

    def __init__(self, spark, name: str):
        self.sc = spark.sparkContext
        self.name = name

    def __enter__(self):
        self.sc.setJobGroup(self.name, self.name)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return False

    def metrics(self) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(self.name)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        out = dict(jobs=float(len(jobs)), stages=0.0, tasks=0.0, executor_run_s=0.0,
                   executor_cpu_s=0.0, shuffle_read_mb=0.0, shuffle_write_mb=0.0)
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # skipped stage: never attempted
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        return out

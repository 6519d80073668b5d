"""Measurement from outside the engine: spans, Spark status-store deltas,
py4j call counts, driver CPU and peak RSS.

Everything here wraps or reads the engine's public surface; no engine file
is changed.  The wrappers are installed only for a traced phase and
:meth:`Tracer.restore` puts the original attributes back.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import os
import resource
import threading
import time

from .metrics import INGEST_METHODS, LAKEHOUSE_METHODS


class Tracer:
    """In-memory spans: ``(id, name, start, end, parent, thread)``.

    The parent of a span is the innermost open span of the same thread, or
    for a call made on an engine worker thread, the innermost open span of
    the thread that opened the current benchmark operation."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_parent: int | None = None
        self._patched: list[tuple[object, str, object, bool]] = []

    # ------------------------------------------------------------- spans

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str) -> dict:
        st = self._stack()
        parent = st[-1] if st else self._op_parent
        span = {
            "id": next(self._ids), "name": name, "start": time.monotonic(),
            "end": None, "parent": parent, "thread": threading.get_ident(),
        }
        st.append(span["id"])
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.monotonic()
        self._stack().pop()
        with self._lock:
            self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, op: bool = False):
        """A benchmark-level span.  ``op=True`` makes it the parent of the
        spans opened on other threads while it is open."""
        s = self._open(name)
        prev = self._op_parent
        if op:
            self._op_parent = s["id"]
        try:
            yield s
        finally:
            self._op_parent = prev
            self._close(s)

    # ---------------------------------------------------------- wrappers

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper."""
        had_own = attr in vars(owner)
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            s = tracer._open(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer._close(s)

        self._patched.append((owner, attr, vars(owner).get(attr), had_own))
        setattr(owner, attr, wrapper)

    def install_engine_wrappers(self) -> None:
        from linked_maps_spark.ingest import CdcEngine
        from linked_maps_spark.lakehouse import LakeTable

        for m in INGEST_METHODS:
            self.wrap(CdcEngine, m, f"ingest.{m}")
        for m in LAKEHOUSE_METHODS:
            self.wrap(LakeTable, m, f"lakehouse.{m}")

    def restore(self) -> None:
        """Undo every :meth:`wrap`, newest first."""
        while self._patched:
            owner, attr, orig, had_own = self._patched.pop()
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    # ---------------------------------------------------------- analysis

    def busy(self, name: str) -> tuple[float, int]:
        """(total seconds, calls) of spans named ``name``."""
        d = [s["end"] - s["start"] for s in self.spans if s["name"] == name]
        return sum(d), len(d)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class Py4jCounter:
    """Counts driver→JVM commands by wrapping the gateway client's
    ``send_command`` on the instance; :meth:`restore` removes the wrapper."""

    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self._lock = threading.Lock()
        orig = self.client.send_command

        def send_command(*args, **kwargs):
            with self._lock:
                self.calls += 1
            return orig(*args, **kwargs)

        self.client.send_command = send_command

    def restore(self) -> None:
        vars(self.client).pop("send_command", None)


_STAGE_FIELDS = (
    "executorRunTime", "executorCpuTime", "jvmGcTime", "shuffleReadBytes",
    "shuffleWriteBytes", "inputBytes", "outputBytes", "numCompleteTasks",
)


class SparkStatus:
    """Reads the driver's status store.  ``stageList`` needs its full
    five-argument signature here (``(List, boolean, boolean, double[],
    List)``); the one-argument Scala default is not callable over py4j."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)

    def n_jobs(self) -> int:
        return int(self.store.jobsList(None).size())

    def stages(self) -> dict[tuple[int, int], tuple]:
        """``{(stageId, attemptId): (field values..., )}`` for every stage
        the store holds.  Stage ids are global and monotone, so the stages
        of a phase are the before/after difference, whatever thread or call
        site submitted them."""
        seq = self.store.stageList(None, False, False, self._quantiles, None)
        out = {}
        for i in range(seq.size()):
            s = seq.apply(i)
            out[(s.stageId(), s.attemptId())] = tuple(
                int(getattr(s, f)()) for f in _STAGE_FIELDS
            )
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        tot = [0] * len(_STAGE_FIELDS)
        n_stages = 0
        for key, vals in after.items():
            prev = before.get(key)
            if prev is None:
                n_stages += 1
            base = prev or (0,) * len(vals)
            for i, v in enumerate(vals):
                tot[i] += v - base[i]
        run_ms, cpu_ns, gc_ms, sh_r, sh_w, inp, outp, tasks = tot
        mb = 1024.0 * 1024.0
        return {
            "spark.stages": n_stages,
            "spark.tasks": tasks,
            "spark.executor_run_s": run_ms / 1000.0,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.gc_s": gc_ms / 1000.0,
            "spark.shuffle_read_mb": sh_r / mb,
            "spark.shuffle_write_mb": sh_w / mb,
            "spark.input_mb": inp / mb,
            "spark.output_mb": outp / mb,
        }

    def sql_execution_max(self) -> int:
        lst = self.sql.executionsList()
        return max((lst.apply(i).executionId() for i in range(lst.size())), default=-1)

    def salted_fold_plans(self, since: int) -> int:
        """SQL executions after id ``since`` whose physical plan holds the
        salted fold's grouped ``applyInPandas`` (``FlatMapGroupsInPandas``)."""
        lst = self.sql.executionsList()
        n = 0
        for i in range(lst.size()):
            e = lst.apply(i)
            if e.executionId() > since and "FlatMapGroupsInPandas" in e.physicalPlanDescription():
                n += 1
        return n


def cpu_seconds() -> float:
    r = resource.getrusage(resource.RUSAGE_SELF)
    return r.ru_utime + r.ru_stime


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident set (VmHWM) of this Python driver plus the driver JVM."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm) if jvm else 0)
    return kb / 1024.0

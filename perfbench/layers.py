"""Outside-in instrumentation of the engine's layers.

Nothing here edits the engine. Three sources feed the per-layer metrics:

- ``Tracer`` wraps public functions of each layer: it swaps the function
  object in every engine module that holds it, so ``from x import f``
  call sites are timed as well as ``x.f(...)`` ones. A wrapper records a
  span (name, layer, start, end, parent) and per-function counters.
- ``SparkStatus`` reads Spark's scheduler: job and stage ids from the
  DAG scheduler, stage metrics from the status store, and streaming
  progress through a ``StreamingQueryListener``.
- ``Procs`` reads ``/proc``: CPU of the driver JVM and of the Python
  worker tree, and resident-memory high-water marks.
"""

from __future__ import annotations

import functools
import importlib
import os
import re
import sys
import tempfile
import time
from collections import defaultdict
from dataclasses import dataclass, field

# (home module, function, layer). Layers follow the engine's modules.
TARGETS: list[tuple[str, str, str]] = [
    ("minimapreduce_spark.session", "narrow_clone", "session"),
    ("minimapreduce_spark.session", "stream_state_width", "session"),
    ("minimapreduce_spark.catalog", "load_table", "catalog"),
    ("minimapreduce_spark.catalog", "parquet_rowcount", "catalog"),
    ("minimapreduce_spark.catalog", "content_fingerprint", "catalog"),
    ("minimapreduce_spark.catalog", "fan_out", "catalog"),
    ("minimapreduce_spark.mapreduce", "run_job", "mapreduce"),
    ("minimapreduce_spark.operators.dedup", "minhash_index_build", "artifacts"),
    ("minimapreduce_spark.operators.dedup", "minhash_index_append", "artifacts"),
    ("minimapreduce_spark.operators.dedup", "minhash_index_compact", "artifacts"),
    ("minimapreduce_spark.operators.similarity", "ivfpq_index_build", "artifacts"),
    ("minimapreduce_spark.operators.similarity", "ivfpq_base_index_build", "artifacts"),
    ("minimapreduce_spark.operators.similarity", "ivfpq_index_append", "artifacts"),
    ("minimapreduce_spark.operators.similarity", "ivfpq_index_compact", "artifacts"),
    ("minimapreduce_spark.operators.relational", "join_view_build", "artifacts"),
    ("minimapreduce_spark.streaming.source", "run_to_memory", "streaming"),
    ("minimapreduce_spark.streaming.source", "run_to_parquet", "streaming"),
    ("minimapreduce_spark.streaming.source", "events_stream", "streaming"),
    ("minimapreduce_spark.streaming.source", "events_stream_sharded", "streaming"),
    ("minimapreduce_spark.streaming.source", "events_stream_redelivered", "streaming"),
    ("minimapreduce_spark.streaming.source", "events_stream_time_sliced", "streaming"),
    ("minimapreduce_spark.streaming.source", "events_stream_time_sliced_redelivered", "streaming"),
    ("minimapreduce_spark.streaming.source", "table_stream_sharded", "streaming"),
]
DRAINS = {"run_to_memory", "run_to_parquet"}
ARTIFACT_KIND = {
    "minhash_index_build": "build", "ivfpq_index_build": "build",
    "ivfpq_base_index_build": "build", "join_view_build": "build",
    "minhash_index_append": "append", "ivfpq_index_append": "append",
    "minhash_index_compact": "compact", "ivfpq_index_compact": "compact",
}
# artifact families: minhash / IVF-PQ index roots and join-view roots,
# with their append / compact / rebuild derivatives
ROOT_PREFIXES = ("minimapreduce_minhash_", "minimapreduce_ivfpq_", "minimapreduce_joinview_")
SINK_NAME = re.compile(r"_\d+$")


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    layer: str
    t0: float
    t1: float = 0.0


@dataclass
class Tracer:
    """Span recorder plus per-function counters. Wrappers always keep the
    memory-sink bookkeeping; spans and counters only while ``on``."""

    run_id: str
    on: bool = False
    spans: list[Span] = field(default_factory=list)
    calls: dict[str, int] = field(default_factory=lambda: defaultdict(int))
    self_s: dict[str, float] = field(default_factory=lambda: defaultdict(float))
    roots_published: int = 0
    bytes_written: int = 0
    patched: dict[str, list[str]] = field(default_factory=dict)
    sink_sessions: dict[int, tuple[object, set[str]]] = field(default_factory=dict)
    # StreamingQueryListener added to each session the engine clones:
    # streams on a clone report progress only to that clone's listeners
    listener: object = None
    _clones: set[int] = field(default_factory=set)
    _stack: list[Span] = field(default_factory=list)
    _child_s: list[float] = field(default_factory=list)
    _seen_inodes: set[tuple[int, int]] = field(default_factory=set)

    # -- spans ---------------------------------------------------------
    def begin(self, name: str, layer: str) -> Span | None:
        if not self.on:
            return None
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, name, layer, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._child_s.append(0.0)
        return s

    def end(self, s: Span | None) -> float:
        """Close ``s``; return its self time (0 when tracing is off)."""
        if s is None:
            return 0.0
        s.t1 = time.perf_counter()
        self._stack.pop()
        dur = s.t1 - s.t0
        own = dur - self._child_s.pop()
        if self._child_s:
            self._child_s[-1] += dur
        return own

    def layer_self_time(self, first_span: int = 0) -> dict[str, float]:
        """Self time by layer over spans from index ``first_span`` on."""
        child: dict[int, float] = defaultdict(float)
        spans = self.spans[first_span:]
        for s in spans:
            if s.parent is not None:
                child[s.parent] += s.t1 - s.t0
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s.layer] += (s.t1 - s.t0) - child[s.sid]
        return out

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        """Wrap every TARGET in every loaded engine module holding it."""
        for home, name, layer in TARGETS:
            mod = importlib.import_module(home)
            orig = getattr(mod, name)
            wrapper = self._wrap(orig, name, layer)
            where = []
            for mname, m in list(sys.modules.items()):
                if not mname.startswith("minimapreduce_spark") or m is None:
                    continue
                for attr, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, attr, wrapper)
                        where.append(f"{mname}.{attr}")
            self.patched[name] = sorted(where)

    def _wrap(self, orig, name: str, layer: str):
        tracer = self
        kind = ARTIFACT_KIND.get(name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if name == "run_to_memory":
                tracer._remember_sink_session(args[0] if args else kwargs["sdf"])
            if not tracer.on:
                return tracer._seen(name, orig(*args, **kwargs))
            outer_artifact = kind is not None and not any(
                s.layer == "artifacts" for s in tracer._stack
            )
            before = artifact_roots() if outer_artifact else None
            s = tracer.begin(name, layer)
            try:
                result = orig(*args, **kwargs)
            finally:
                own = tracer.end(s)
                tracer.calls[name] += 1
                tracer.self_s[name] += own
            if before is not None:
                new = artifact_roots() - before
                tracer.roots_published += len(new)
                tracer.bytes_written += sum(tracer._new_bytes(r) for r in new)
            return tracer._seen(name, result)

        return wrapper

    def _seen(self, name: str, result):
        if name == "narrow_clone" and id(result) not in self._clones:
            self._clones.add(id(result))
            if self.listener is not None:
                result.streams.addListener(self.listener)
        return result

    def _new_bytes(self, root: str) -> int:
        """Bytes of files under ``root`` whose inode this run has not
        counted yet: hard links shared with a parent root count once."""
        total = 0
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                st = os.lstat(os.path.join(dirpath, f))
                key = (st.st_dev, st.st_ino)
                if key not in self._seen_inodes:
                    self._seen_inodes.add(key)
                    total += st.st_size
        return total

    # -- memory sinks --------------------------------------------------
    def _remember_sink_session(self, sdf) -> None:
        session = sdf.sparkSession
        if id(session) not in self.sink_sessions:
            self.sink_sessions[id(session)] = (session, _temp_views(session))

    def drop_memory_sinks(self) -> int:
        """Drop the memory-sink views ``run_to_memory`` left registered
        since its session was first seen; return how many there were."""
        n = 0
        for session, baseline in self.sink_sessions.values():
            for view in _temp_views(session) - baseline:
                if SINK_NAME.search(view):
                    session.catalog.dropTempView(view)
                    n += 1
        return n


def _temp_views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


def artifact_roots() -> set[str]:
    """Published artifact roots in the current temp dir."""
    d = tempfile.gettempdir()
    try:
        return {
            os.path.join(d, e) for e in os.listdir(d)
            if e.startswith(ROOT_PREFIXES) and os.path.isdir(os.path.join(d, e))
        }
    except FileNotFoundError:
        return set()


# ---------------------------------------------------------------------------
# Spark scheduler and streaming progress
# ---------------------------------------------------------------------------


@dataclass
class StageTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_attempts: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0

    def add(self, o: "StageTotals") -> None:
        for k in vars(self):
            setattr(self, k, getattr(self, k) + getattr(o, k))


class SparkStatus:
    """Job/stage accounting from Spark's DAG scheduler and status store.

    Job and stage ids are dense counters in the DAG scheduler, so the ids
    a query used are the range between two reads of those counters."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._dag = self._sc.dagScheduler()
        self.last_job, self.last_stage = self.next_job_id(), self._dag.nextStageId()

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def collect(self) -> StageTotals:
        """Totals over jobs and stages started since the previous call."""
        from py4j.protocol import Py4JJavaError

        self._sc.listenerBus().waitUntilEmpty()
        nj, ns = self.next_job_id(), self._dag.nextStageId()
        t = StageTotals(jobs=nj - self.last_job)
        for sid in range(self.last_stage, ns):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            t.stages += 1
            ok = sd.numCompleteTasks()
            t.tasks += ok
            t.task_attempts += ok + sd.numFailedTasks() + sd.numKilledTasks()
            t.shuffle_write_bytes += sd.shuffleWriteBytes()
            t.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            t.gc_s += sd.jvmGcTime() / 1000.0
        self.last_job, self.last_stage = nj, ns
        return t


def make_progress_listener(sink: list[dict]):
    """A ``StreamingQueryListener`` appending one dict per micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ops = p.stateOperators or []
            rec = {
                "trigger_ms": d.get("triggerExecution", 0),
                "add_batch_ms": d.get("addBatch", 0),
                "planning_ms": d.get("queryPlanning", 0),
                "wal_commit_ms": d.get("walCommit", 0),
                "commit_ms": d.get("commitOffsets", 0) + d.get("commitBatch", 0),
                "input_rows": p.numInputRows,
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
            }
            sink.append(rec)  # one append: atomic under the interpreter lock

    return Progress()


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for e in os.listdir("/proc"):
        if e.isdigit():
            st = _stat(int(e))
            if st is not None:
                kids[int(st[1])].append(int(e))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = children_map(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime+stime of ``pid`` (plus reaped children's when asked)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    n = int(st[11]) + int(st[12])
    if reaped:
        n += int(st[13]) + int(st[14])
    return n / _TICK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Procs:
    """The benchmark process, the driver JVM and its Python workers."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm = jvm_pid

    def jvm_cpu_s(self) -> float:
        return cpu_s(self.jvm)

    def python_cpu_s(self) -> float:
        """CPU of every Python process under the JVM (``pyspark.daemon``
        and its forked workers, planner-side workers), counting workers
        already reaped through their parents' child-CPU fields, plus
        the JVM's own reaped children."""
        total = cpu_s(self.jvm, reaped=True) - cpu_s(self.jvm)
        kids = children_map()
        todo = list(kids.get(self.jvm, []))
        while todo:
            p = todo.pop()
            if "python" in _cmdline(p):
                total += cpu_s(p, reaped=True)
            todo.extend(kids.get(p, []))
        return total

    def peak_rss_mb(self) -> dict[str, float]:
        return {"driver_python": vm_hwm_mb(os.getpid()), "jvm": vm_hwm_mb(self.jvm)}

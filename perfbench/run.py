#!/usr/bin/env python3
"""Benchmark of the minimapreduce_spark engine (see README.md here).

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 10 --trace 0

One run: lay out the workload's inputs from the seed, start Spark on
``local[nproc]``, check every workload query against its DuckDB oracle
once (this pass also warms codegen and builds read-side artifacts), then
time passes over the queries in seed-permuted order for ``--seconds``.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it is the full
record, also kept in ``perfbench/_out/``. Everything the run writes stays
under ``perfbench/_work`` (deleted at exit) and ``perfbench/_out``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def process_start() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


@contextlib.contextmanager
def fds_to(path: str):
    """Point this process's stdout/stderr at ``path`` while children are
    started, so they log there; restore both afterwards."""
    sys.stdout.flush()
    sys.stderr.flush()
    saved = [os.dup(1), os.dup(2)]
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    try:
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        yield
    finally:
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        for f in (*saved, fd):
            os.close(f)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def cpu_probe_s() -> float:
    """Median time of a fixed single-threaded Python loop: how fast this
    machine runs right now. On a shared host it moves by a quarter from
    second to second with no sign in load average or steal time."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i % 7 for i in range(500_000))
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    if r.returncode != 0:
        return None
    return r.stdout.strip() or None


class Bench:
    def __init__(self, args, t_start: float) -> None:
        self.args = args
        self.t_start = t_start
        self.wl = WORKLOADS[args.workload]
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.path.join(HERE, "_work", f"{self.wl.name}-s{args.seed}-{os.getpid()}")
        self.data = os.path.join(self.work, "data")
        self.tmp = os.path.join(self.work, "tmp")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    # -- environment ---------------------------------------------------
    def prepare_dirs(self) -> None:
        for d in ("data", "tmp", "local", "cwd"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        os.makedirs(OUT, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.nproc)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["TMPDIR"] = self.tmp
        # the JVM spark-submit runs first to build the driver command
        os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}"
        tempfile.tempdir = self.tmp
        os.chdir(os.path.join(self.work, "cwd"))  # spark-warehouse/ lands here

    def start_spark(self):
        from pyspark import SparkContext

        from minimapreduce_spark.session import get_spark

        log = os.path.join(OUT, f"{self.wl.name}-trace{self.args.trace}.spark.log")
        if os.path.exists(log):
            os.unlink(log)
        t0 = time.perf_counter()
        with fds_to(log):
            spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={self.tmp}",
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        self.startup_s = time.perf_counter() - t0
        self.gateway = SparkContext._gateway
        return spark

    def stop_spark(self, spark) -> None:
        """Stop Spark, the JVM and every process under it; wait for each
        to end."""
        from layers import descendants

        proc = self.gateway.proc
        workers = set(descendants(proc.pid))
        try:
            spark.stop()
        finally:
            self.gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        while workers and time.time() < deadline:
            workers = {p for p in workers if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for p in workers:
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)

    @contextlib.contextmanager
    def pass_tmp(self, label: str):
        """Fresh artifact/checkpoint/staging root for one pass when the
        workload asks for it, deleted afterwards; else the run's root."""
        if not self.wl.fresh_dir_per_pass:
            yield
            return
        d = os.path.join(self.tmp, f"pass-{label}")
        os.makedirs(d)
        tempfile.tempdir = d
        try:
            yield
        finally:
            tempfile.tempdir = self.tmp
            shutil.rmtree(d, ignore_errors=True)

    def order(self, label: str) -> list[str]:
        qs = list(self.wl.queries)
        random.Random(f"{self.args.seed}/{label}").shuffle(qs)
        return qs

    # -- oracle pass ---------------------------------------------------
    def oracle_pass(self, spark, registry) -> dict:
        import duckdb

        from minimapreduce_spark.catalog import TABLES, table_path
        from tests.conftest import assert_frames_match

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(self.data, t)}'")
        verdicts: dict[str, str] = {}
        rows: dict[str, int] = {}
        seconds: dict[str, float] = {}
        no_oracle = [n for n in self.wl.queries if registry[n].oracle is None]
        with self.pass_tmp("oracle"):
            for name in self.order("oracle"):
                q = registry[name]
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    got = q.fn(spark, self.data).toPandas()
                    rows[name] = len(got)
                    if q.oracle is None:
                        again = len(q.fn(spark, self.data).toPandas())
                        why = None if again == len(got) else f"row count {len(got)} then {again}"
                    else:
                        assert_frames_match(got, con.execute(q.oracle).df(), name)
                        why = None
                except AssertionError as e:
                    why = str(e)
                except Exception as e:  # noqa: BLE001 - any failure is a failed check
                    why = f"raised {type(e).__name__}: {str(e).splitlines()[0][:300]}"
                seconds[name] = time.perf_counter() - t0
                verdicts[name] = "ok" if why is None else why
                if why is not None:
                    self.failed += 1
                    self.errors.append(f"oracle {name}: {why}")
        con.close()
        return {"verdicts": verdicts, "rows": rows, "seconds": seconds, "no_oracle": no_oracle}

    # -- timed passes --------------------------------------------------
    def run_pass(self, spark, registry, label: str, traced: bool, tr, status, procs) -> dict:
        """One pass over the workload; per-query latencies, and per-layer
        counters when ``traced``."""
        from layers import ARTIFACT_KIND, DRAINS, TARGETS, artifact_roots

        tr.on = traced
        rec: dict = {"traced": traced, "latency_s": {}}
        calls0, self0 = dict(tr.calls), dict(tr.self_s)
        roots0, bytes0, spans0 = tr.roots_published, tr.bytes_written, len(tr.spans)
        batches0 = len(self.progress)
        if traced:
            status.collect()
            jvm0, py0 = procs.jvm_cpu_s(), procs.python_cpu_s()
        plan_s = exec_s = drv_cpu = 0.0
        eager = 0
        mr = {"exec_s": 0.0, "shuffle_bytes": 0}
        sess = None
        with self.pass_tmp(label):
            ps = tr.begin("pass", "bench")
            t_pass = time.perf_counter()
            for name in self.order(label):
                self.attempted += 1
                qs = tr.begin(name, "bench")
                mr_calls = tr.calls["run_job"]
                t0 = time.perf_counter()
                try:
                    j0, c0 = (status.next_job_id(), time.process_time()) if traced else (0, 0.0)
                    sp = tr.begin("plan", "registry")
                    try:
                        df = registry[name].fn(spark, self.data)
                    finally:
                        tr.end(sp)
                    t1 = time.perf_counter()
                    if traced:
                        eager += status.next_job_id() - j0
                        drv_cpu += time.process_time() - c0
                    se = tr.begin("exec", "operators")
                    try:
                        df.write.format("noop").mode("overwrite").save()
                    finally:
                        tr.end(se)
                    t2 = time.perf_counter()
                    rec["latency_s"][name] = t2 - t0
                except Exception as e:  # noqa: BLE001 - counted, the run goes on
                    self.failed += 1
                    self.errors.append(f"pass {label} {name}: {type(e).__name__}: {str(e).splitlines()[0][:300]}")
                    t1 = t2 = time.perf_counter()
                tr.end(qs)
                if traced:
                    plan_s += t1 - t0
                    exec_s += t2 - t1
                    sc = tr.begin("collect", "trace")
                    st = status.collect()
                    tr.end(sc)
                    sess = st if sess is None else (sess.add(st) or sess)
                    if tr.calls["run_job"] > mr_calls:
                        mr["exec_s"] += t2 - t1
                        mr["shuffle_bytes"] += st.shuffle_write_bytes
            rec["wall_s"] = time.perf_counter() - t_pass
            tr.end(ps)
            rec["artifact_roots"] = len(artifact_roots())
        rec["memory_sinks_live"] = tr.drop_memory_sinks()
        if not traced:
            return rec

        def d(m: dict, m0: dict, k: str) -> float:
            return m.get(k, 0) - m0.get(k, 0)

        batches = self.progress[batches0:]
        layer_self = tr.layer_self_time(spans0)
        builder_calls = sum(d(tr.calls, calls0, k) for k in ARTIFACT_KIND)
        roots = tr.roots_published - roots0
        streaming_fns = [n for _h, n, layer in TARGETS if layer == "streaming"]
        python_cpu = procs.python_cpu_s() - py0
        rec["layers"] = {
            "session.jobs": sess.jobs,
            "session.stages": sess.stages,
            "session.tasks": sess.tasks,
            "session.task_useful_ratio": sess.tasks / sess.task_attempts if sess.task_attempts else 1.0,
            "session.shuffle_write_bytes": sess.shuffle_write_bytes,
            "session.spill_bytes": sess.spill_bytes,
            "session.jvm_cpu_s": procs.jvm_cpu_s() - jvm0,
            "session.gc_s": sess.gc_s,
            "registry.plan_s": plan_s,
            "registry.eager_jobs": eager,
            "registry.driver_cpu_s": drv_cpu,
            "operators.exec_s": exec_s,
            "catalog.load_table_calls": d(tr.calls, calls0, "load_table"),
            "catalog.rowcount_s": d(tr.self_s, self0, "parquet_rowcount"),
            "catalog.fingerprint_s": d(tr.self_s, self0, "content_fingerprint"),
            "functions.python_cpu_s": python_cpu,
            "mapreduce.run_job_calls": d(tr.calls, calls0, "run_job"),
            "mapreduce.exec_s": mr["exec_s"],
            "mapreduce.shuffle_bytes": mr["shuffle_bytes"],
            "artifacts.build_s": sum(d(tr.self_s, self0, k) for k, v in ARTIFACT_KIND.items() if v == "build"),
            "artifacts.append_s": sum(d(tr.self_s, self0, k) for k, v in ARTIFACT_KIND.items() if v == "append"),
            "artifacts.compact_s": sum(d(tr.self_s, self0, k) for k, v in ARTIFACT_KIND.items() if v == "compact"),
            "artifacts.roots_published": roots,
            "artifacts.bytes_written": tr.bytes_written - bytes0,
            "artifacts.reuse_ratio": 1.0 - roots / builder_calls if builder_calls else 1.0,
            "streaming.batches": len(batches),
            "streaming.input_rows": sum(b["input_rows"] for b in batches),
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "streaming.planning_ms": sum(b["planning_ms"] for b in batches),
            "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
            "streaming.commit_ms": sum(b["commit_ms"] for b in batches),
            "streaming.state_commit_ms": sum(b["state_commit_ms"] for b in batches),
            "streaming.drain_s": sum(d(tr.self_s, self0, k) for k in DRAINS),
            "streaming.stage_s": sum(d(tr.self_s, self0, k) for k in streaming_fns if k not in DRAINS),
            "streaming.state_rows_peak": max((b["state_rows"] for b in batches), default=0),
            "streaming.state_memory_peak_bytes": max((b["state_bytes"] for b in batches), default=0),
            "streaming.memory_sinks_live": rec["memory_sinks_live"],
        }
        for layer in ("session", "registry", "operators", "catalog", "mapreduce", "artifacts", "streaming"):
            rec["layers"][f"{layer}.self_s"] = layer_self.get(layer, 0.0)
        # The Python worker lane runs outside the driver: its time is CPU.
        rec["layers"]["functions.self_s"] = python_cpu
        rec["layers"]["trace.uncovered_s"] = layer_self.get("bench", 0.0)
        rec["calls"] = {k: d(tr.calls, calls0, k) for k in tr.calls if d(tr.calls, calls0, k)}
        rec["batch_trigger_ms"] = [b["trigger_ms"] for b in batches]
        return rec

    # -- whole run -----------------------------------------------------
    def run(self) -> dict:
        self.prepare_dirs()
        try:
            return self._run()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.rmdir(os.path.dirname(self.work))

    def _run(self) -> dict:
        import pyspark

        import inputs
        import minimapreduce_spark.queries as q
        from layers import Procs, SparkStatus, Tracer, make_progress_listener

        wl, traced_run = self.wl, self.args.trace == 1
        load0, ticks0, probe0 = os.getloadavg()[0], cpu_ticks(), cpu_probe_s()
        t0 = time.perf_counter()
        table_rows = inputs.prepare(self.data, self.args.seed, wl.dup_frac)
        inputs_s = time.perf_counter() - t0

        tr = Tracer(run_id=f"{wl.name}-s{self.args.seed}-{os.getpid()}")
        tr.install()  # wrappers stay pass-through until tracing is on
        spark = self.start_spark()
        procs = Procs(self.gateway.proc.pid)
        self.progress: list[dict] = []
        status = None
        try:
            if traced_run:
                status = SparkStatus(spark)
                tr.listener = make_progress_listener(self.progress)
                spark.streams.addListener(tr.listener)
            oracle = self.oracle_pass(spark, q.REGISTRY)
            tr.drop_memory_sinks()
            setup_s = time.time() - self.t_start
            # Timed passes. A traced run times pairs of one traced and one
            # untraced pass, traced first in even pairs and second in odd
            # ones, so the JIT's warm-up trend does not always favour one
            # side of the overhead estimate.
            passes: list[dict] = []
            t_meas = time.perf_counter()
            step = 2 if traced_run else 1
            need = wl.passes + wl.passes % step
            while True:
                for k in range(step):
                    traced = traced_run and (k == 0) == (len(passes) // 2 % 2 == 0)
                    passes.append(self.run_pass(spark, q.REGISTRY, str(len(passes)), traced, tr, status, procs))
                if len(passes) >= need and time.perf_counter() - t_meas >= self.args.seconds:
                    break
            self.peak_rss = procs.peak_rss_mb()
            java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            versions = {"python": platform.python_version(), "pyspark": pyspark.__version__, "java": java}
        finally:
            self.stop_spark(spark)
        machine = {"load0": load0, "ticks0": ticks0, "probe0": probe0}
        return self.summarize(oracle, passes, tr, setup_s, versions, table_rows, inputs_s, machine)

    def summarize(self, oracle, passes, tr, setup_s, versions, table_rows, inputs_s, machine) -> dict:
        untraced = [p for p in passes if not p["traced"]]
        traced = [p for p in passes if p["traced"]]
        lat = [v for p in untraced for v in p["latency_s"].values()]
        walls = [p["wall_s"] for p in untraced]
        steal1, total1 = cpu_ticks()
        e2e = {
            "setup_s": (setup_s, "s"),
            "wall_s": (statistics.median(walls), "s"),
            "latency_p50_s": (statistics.median(lat) if lat else 0.0, "s"),
        }
        record = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "provenance": {
                "git_commit": git_commit(),
                "nproc": self.nproc,
                "master": f"local[{self.nproc}]",
                "loadavg_1m_start": machine["load0"],
                "loadavg_1m_end": os.getloadavg()[0],
                # share of machine CPU time the hypervisor gave elsewhere
                "cpu_steal_frac": (steal1 - machine["ticks0"][0]) / max(1, total1 - machine["ticks0"][1]),
                "cpu_probe_s_start": machine["probe0"],
                "cpu_probe_s_end": cpu_probe_s(),
                **versions,
            },
            "inputs": {"tables": table_rows, "inputs_s": inputs_s, "queries": list(self.wl.queries)},
            "samples": {
                "passes": len(untraced),
                "latency": len(lat),
                "per_pass_latency": [len(p["latency_s"]) for p in untraced],
            },
            "session.startup_s": self.startup_s,
            "peak_rss_mb_by_process": self.peak_rss,
            "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
            "oracle": oracle,
            "errors": self.errors,
            "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        # a fresh-directory workload that publishes no roots wrote nothing
        problems = [
            f"pass {i} published no artifact roots"
            for i, p in enumerate(passes)
            if self.wl.fresh_dir_per_pass and not p["artifact_roots"]
        ]
        if traced:
            from metrics import per_layer

            layer_metrics, selftest = per_layer(self, passes, tr)
            record["per_layer"] = layer_metrics
            record["selftest"] = selftest
            record["wrapped_in"] = tr.patched
            problems += selftest["problems"]
            metrics = layer_metrics
            spans = os.path.join(OUT, f"{self.wl.name}.spans.json")
            with open(spans, "w") as f:
                json.dump({
                    "run_id": tr.run_id,
                    "spans": [[s.sid, s.parent, s.name, s.layer, s.t0, s.t1] for s in tr.spans],
                }, f)
        correct = self.failed == 0 and not problems
        record["failed_frac"] = self.failed / self.attempted
        record["problems"] = problems
        record["correct"] = correct
        return {
            "record": record,
            "result": {"correct": correct, "attempted": self.attempted, "failed": self.failed, "metrics": metrics},
        }


def main() -> int:
    t_start = process_start()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, REPO)
    try:
        import minimapreduce_spark.queries  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}", file=sys.stderr)
        return 2
    out = Bench(args, t_start).run()
    rec = out["record"]
    with open(os.path.join(OUT, f"{args.workload}-trace{args.trace}.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())

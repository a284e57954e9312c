"""One benchmark run: set-up, an untimed check pass, timed passes, and
the end-to-end and per-layer numbers.

Closed loop, one client: each query is called, then materialized with a
``noop`` write, and only then is the next one issued. The seed only
orders the calls of each pass.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

from perfbench import check, stats
from perfbench.workloads import CALLABLE, PASSES, WARM_PASSES, Workload, pass_order

# Status-store counters split by the phase that fired them.
SPLIT_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_s",
    "task_cpu_s",
    "shuffle_fetch_wait_s",
    "input_mb",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "spill_mb",
    "failed_tasks",
)
# Counters reported as one total over both phases.
WHOLE_COUNTERS = (
    "gc_s",
    "op.scan_s",
    "op.agg_build_s",
    "op.broadcast_build_s",
    "op.exchange_mb",
    "python.rows_sent",
    "python.rows_received",
    "python.mb_sent",
    "streaming.batches",
    "streaming.trigger_s",
    "streaming.add_batch_s",
    "streaming.planning_s",
    "streaming.wal_commit_s",
    "streaming.state_rows",
    "streaming.state_mb",
)
SET_UP_SPANS = ("session.start", "session.warmup", "memos")
SPAN_NAMES = SET_UP_SPANS + (
    "pass",
    "query",
    "construct",
    "engine.analyze",
    "final",
)


class Tracer:
    """In-memory spans (name, start, end, parent); a no-op when off."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


OFF = Tracer(False)


def label(item: tuple[str, str]) -> str:
    kind, name = item
    return name if kind == CALLABLE else f"sql:{name}"


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen via one tiny scan, and the Python worker pool plus the
    Arrow serializer via one trivial applyInPandas, so neither start-up
    cost lands on whichever query happens to run first."""
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    region.count()
    region.groupBy("r_regionkey").applyInPandas(
        lambda pdf: pdf, schema=region.schema
    ).write.mode("overwrite").format("noop").save()


def rss_peak_mb(pid: str) -> float:
    """Peak resident memory (VmHWM) of one process."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all cores (the
    eighth field of /proc/stat's cpu line, in 1/100 s)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / 100


def dir_mb(root: str, prefix: str) -> float:
    """Bytes under every directory below ``root`` whose name starts with
    ``prefix``."""
    total = 0
    for d, dirs, files in os.walk(root):
        if os.path.basename(d).startswith(prefix):
            for sub, _, fs in os.walk(d):
                total += sum(os.path.getsize(os.path.join(sub, f)) for f in fs)
            dirs[:] = []
    return total / (1024 * 1024)


def stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    JVM exits when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


class Run:
    def __init__(
        self,
        workload: Workload,
        seed: int,
        trace: bool,
        sf_dir: str,
        tmp_dir: str,
        warehouse_dir: str,
    ):
        self.wl = workload
        self.seed = seed
        self.trace = trace
        self.sf_dir = sf_dir
        self.tmp_dir = tmp_dir
        self.warehouse_dir = warehouse_dir
        # A traced run makes four passes, untraced, traced, traced,
        # untraced, so a warm-up trend over the run does not bias the
        # tracing overhead; four, not seven, keeps a traced curation run
        # (which builds every memo first) well inside the time one run
        # may take.
        self.passes = 4 if trace else PASSES
        self.tracer = Tracer(trace)
        self.spark = None
        self.census = None
        self.bad: dict[str, str] = {}
        self.layer: dict[str, float] = {}

    # -- set-up ------------------------------------------------------

    def set_up(self) -> None:
        import __spark_entry__ as entry
        from bigdatamanagement_spark import memos
        from bigdatamanagement_spark.engine import Engine
        from bigdatamanagement_spark.session import get_spark

        self.queries, self.sql_text = entry.queries(), entry.oracle_sql()
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench",
                extra_conf={
                    # The first 1 GB of heap is committed and touched at
                    # start, so the JVM's resident size does not depend on
                    # how much of the heap G1 happened to touch in this
                    # run. (Prepended to the engine's extraJavaOptions.)
                    "spark.driver.defaultJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
                    "spark.sql.warehouse.dir": self.warehouse_dir,
                    "spark.ui.showConsoleProgress": "false",
                },
            )
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("session.warmup"):
            warm_up(self.spark, self.sf_dir)
        t2 = time.perf_counter()
        self.engine = Engine(self.spark)
        if any(kind != CALLABLE for kind, _ in self.wl.items):
            self.engine.register_testdata(self.sf_dir)
        # A builder that fails is a failed operation: it makes the run
        # incorrect, and the queries it serves build it on first touch.
        with self.tracer.span("memos"):
            if self.trace and self.wl.memo_builders:
                built, failed = memos.build_all(self.spark, self.sf_dir)
                for name, err in failed.items():
                    self.bad[f"memo:{name}"] = err
                for name in memos.MEMO_BUILDERS:
                    self.layer[f"memos.build_s.{name}"] = built.get(name, 0.0)
            else:
                for name in self.wl.memo_builders:
                    try:
                        memos.MEMO_BUILDERS[name](self.spark, self.sf_dir)
                    except Exception as exc:
                        self.bad[f"memo:{name}"] = (
                            f"{type(exc).__name__}: {str(exc)[:200]}"
                        )
        t3 = time.perf_counter()
        self.setup_s = t3 - t0
        if self.trace:
            self.layer["session.start_s"] = t1 - t0
            self.layer["session.warmup_s"] = t2 - t1
            if self.wl.memo_builders:
                h0 = time.perf_counter()
                memos.build_all(self.spark, self.sf_dir)
                self.layer["memos.hit_s"] = time.perf_counter() - h0
            self.layer["cache.artifact_mb"] = dir_mb(self.tmp_dir, "bdm_cache_fresh_")
            from perfbench.probes import Census

            self.census = Census(self.spark)

    # -- calls -------------------------------------------------------

    def call(self, item: tuple[str, str], tracer: Tracer = OFF):
        """The query's DataFrame and the seconds Engine.sql spent on it."""
        kind, name = item
        if kind == CALLABLE:
            return self.queries[name](self.spark, self.sf_dir), 0.0
        a = time.perf_counter()
        with tracer.span("engine.analyze"):
            df = self.engine.sql(self.sql_text[name])
        return df, time.perf_counter() - a

    def check_pass(self) -> None:
        """Untimed first pass: collect every result, compare with the
        DuckDB oracle where the workload checks it and, for SQL items,
        with the callable of the same name. Keeps each digest for the
        re-check after the timed passes. Also warms the session."""
        from bigdatamanagement_spark.catalog import TESTDATA_TABLES

        oracle = check.Oracle(self.sf_dir, TESTDATA_TABLES)
        self.digests: dict[str, str] = {}
        self.check_calls: dict[str, dict] = {}
        canon: dict[str, tuple] = {}
        try:
            # Declared order, whatever the seed: this pass also warms the
            # JIT, and its profile should not differ from seed to seed.
            for item in self.wl.items:
                kind, name = item
                lab = label(item)
                a = time.perf_counter()
                try:
                    canon[lab] = check.collect(self.call(item)[0])
                except Exception as exc:  # a failing query is a result
                    self.bad[lab] = f"{type(exc).__name__}: {str(exc)[:200]}"
                    continue
                b = time.perf_counter()
                self.digests[lab] = check.digest(canon[lab])
                if kind == CALLABLE and name in self.wl.oracle:
                    if canon[lab] != oracle.run(self.sql_text[name]):
                        self.bad[lab] = "differs from the DuckDB oracle"
                self.check_calls[lab] = {
                    "collect_s": b - a,
                    "oracle_s": time.perf_counter() - b,
                }
            for kind, name in self.wl.items:
                lab = label((kind, name))
                if kind == CALLABLE or lab not in canon:
                    continue
                try:
                    if name not in canon:  # the callable is not in the pass
                        canon[name] = check.collect(
                            self.queries[name](self.spark, self.sf_dir)
                        )
                except Exception as exc:
                    self.bad[lab] = f"callable {type(exc).__name__}: {str(exc)[:200]}"
                    continue
                if canon[lab] != canon[name]:
                    self.bad[lab] = "Engine.sql differs from the callable"
                elif canon[lab] != oracle.run(self.sql_text[name]):
                    self.bad[lab] = "differs from the DuckDB oracle"
        finally:
            oracle.close()

    def warm_pass(self) -> None:
        """Untimed pass in declared order, each call materialized like a
        timed one. A failure here was already recorded by the check
        pass, or is recorded now."""
        for item in self.wl.items:
            try:
                df = self.call(item)[0]
                df.write.mode("overwrite").format("noop").save()
            except Exception as exc:
                self.bad.setdefault(
                    label(item), f"{type(exc).__name__}: {str(exc)[:200]}"
                )

    def timed_pass(self, pass_no: int, traced: bool) -> tuple[float, list[dict], dict]:
        census = self.census if traced else None
        tracer = self.tracer if traced else OFF
        calls, frames = [], {}
        if census:
            census.mark("between")
        t0 = time.perf_counter()
        with tracer.span("pass", pass_no=pass_no):
            for item in pass_order(self.wl, self.seed, pass_no):
                lab = label(item)
                rec = {"query": lab, "pass": pass_no}
                with tracer.span("query", query=lab):
                    a = time.perf_counter()
                    try:
                        with tracer.span("construct"):
                            df, rec["analyze_s"] = self.call(item, tracer)
                        b = time.perf_counter()
                        if census:
                            census.mark("construct")
                        b2 = time.perf_counter()
                        with tracer.span("final"):
                            df.write.mode("overwrite").format("noop").save()
                        c = time.perf_counter()
                        if census:
                            census.mark("final")
                        frames[lab] = df
                        rec.update(construct_s=b - a, final_s=c - b2)
                        rec["total_s"] = rec["construct_s"] + rec["final_s"]
                    except Exception as exc:  # counted in fail_frac
                        rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
                calls.append(rec)
        wall = time.perf_counter() - t0
        layers = self._pass_layers(calls, census.take()) if census else {}
        self.frames = frames
        return wall, calls, layers

    def _pass_layers(self, calls: list[dict], seg: dict) -> dict[str, float]:
        ok = [c for c in calls if "error" not in c]
        out = {
            "queries.construct_s": sum(c["construct_s"] for c in ok),
            "exec.final_s": sum(c["final_s"] for c in ok),
            "engine.analyze_s": sum(c["analyze_s"] for c in ok),
        }
        con, fin = seg.get("construct", {}), seg.get("final", {})
        for k in SPLIT_COUNTERS:
            for phase, s in (("construct", con), ("final", fin)):
                out[f"exec.{k}.{phase}"] = float(s.get(k, 0))
        out["exec.sql_executions"] = float(
            con.get("sql_executions", 0) + fin.get("sql_executions", 0)
        )
        out["exec.eager_executions"] = float(con.get("sql_executions", 0))
        for k in WHOLE_COUNTERS:
            name = "exec.gc_s" if k == "gc_s" else k
            out[name] = float(con.get(k, 0) + fin.get(k, 0))
        return out

    def recheck(self) -> None:
        """Collect the last timed pass's frames again and compare with the
        first pass's digests."""
        for lab, df in self.frames.items():
            if lab in self.bad or lab not in self.digests:
                continue
            try:
                if check.digest(check.collect(df)) != self.digests[lab]:
                    self.bad[lab] = "differs from its first-pass digest"
            except Exception as exc:
                self.bad[lab] = f"re-check {type(exc).__name__}: {str(exc)[:200]}"

    # -- the run -----------------------------------------------------

    def execute(self) -> dict:
        self.steal0 = steal_s()
        try:
            self.set_up()
            t0 = time.perf_counter()
            self.check_pass()
            self.check_s = time.perf_counter() - t0
            t0 = time.perf_counter()
            for _ in range(WARM_PASSES):
                self.warm_pass()
            self.warm_s = time.perf_counter() - t0
            walls, calls, traced_walls, traced_layers = [], [], [], []
            for p in range(1, self.passes + 1):
                traced = self.trace and p in (2, 3)
                w, c, lay = self.timed_pass(p, traced)
                if traced:
                    traced_walls.append(w)
                    traced_layers.append(lay)
                else:
                    walls.append(w)
                    calls += c
            t0 = time.perf_counter()
            if self.wl.recheck:
                self.recheck()
            self.check_s += time.perf_counter() - t0
            rss = {
                "python": rss_peak_mb("self"),
                "jvm": rss_peak_mb(str(self.spark.sparkContext._gateway.proc.pid)),
            }
        finally:
            if self.census:
                self.census.close()
            if self.spark is not None:
                stop(self.spark)
        return self._report(walls, calls, traced_walls, traced_layers, rss)

    def _report(self, walls, calls, traced_walls, traced_layers, rss) -> dict:
        times = [c["total_s"] for c in calls if "error" not in c]
        failed = stats.fail_count(calls, set(self.bad))
        tail = stats.tail(times)
        e2e = {
            "setup_s": self.setup_s,
            # The fastest pass: other guests on a shared host slow whole
            # stretches of a run, and the median pass moved with them.
            "pass_s": min(walls),
            "query_p50_s": statistics.median(times) if times else None,
            "query_tail_s": tail["value"],
            "ok_frac": 1.0 - failed / len(calls),
            "rss_peak_mb": rss["python"] + rss["jvm"],
        }
        report = {
            "attempted": len(calls),
            "failed": failed,
            "fail_frac": failed / len(calls),
            "bad_queries": self.bad,
            "passes": self.passes,
            "check_s": self.check_s,
            "warm_s": self.warm_s,
            "check_calls": self.check_calls,
            "rss_peak_parts_mb": rss,
            "host_steal_s": steal_s() - self.steal0,
            "end_to_end": e2e,
            "query_tail": tail,
            "calls": calls,
        }
        if self.trace:
            layer = dict(self.layer)
            for k in traced_layers[0]:
                layer[k] = statistics.median(lay[k] for lay in traced_layers)
            untraced, traced = min(walls), min(traced_walls)
            layer["trace.untraced_pass_s"] = untraced
            layer["trace.traced_pass_s"] = traced
            layer["trace.overhead_s"] = traced - untraced
            # Set-up spans happen once; the rest are per traced pass.
            own = stats.self_times(self.tracer.spans)
            for name in SPAN_NAMES:
                per = 1 if name in SET_UP_SPANS else len(traced_walls)
                layer[f"self.{name}_s"] = own.get(name, 0.0) / per
            report["per_layer"] = layer
            report["spans"] = self.tracer.spans
        return report


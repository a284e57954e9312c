"""Readers over Spark's own monitoring surfaces, used by the traced run.

Everything here is read from outside the engine: the scheduler's id
counters, the core and SQL status stores, the listener bus, the JVM's
GarbageCollectorMXBeans and a StreamingQueryListener the benchmark
registers. Nothing inside ``bigdatamanagement_spark`` is touched.

Attribution: at every boundary (``mark``) the listener bus is drained and
the highest job, stage and SQL-execution ids handed out so far are
recorded (a job's stages and an execution's start reach the bus before
the action returns, so after the drain these ids are complete). Records are then charged to segments by id (``stats.attribute``)
so a stage whose events land late is still charged to the query that
created it, never to the next one.
"""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener

from perfbench.stats import attribute

MB = 1024 * 1024
_SIZE = {"B": 1, "KiB": 1024, "MiB": MB, "GiB": 1024 * MB, "TiB": MB * MB}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
PY_SENT = "data sent to Python workers"
ROWS = "number of output rows"
SCAN, AGG_BUILD, BUILD, DATA_SIZE = (
    "scan time",
    "time in aggregation build",
    "time to build",
    "data size",
)
WANTED = {PY_SENT, ROWS, SCAN, AGG_BUILD, BUILD, DATA_SIZE}


def parse_metric(text: str, mtype: str) -> float:
    """Value of one sum, size or timing SQL metric as the status store
    renders it: a plain count ("1,234"), or a "total (min, med, max ...)"
    header followed by "<total> <unit> (...)". Sizes come back in MB,
    timings in seconds."""
    line = text.split("\n")[-1].strip()
    if mtype == "sum":
        return float(line.split(" ")[0].replace(",", ""))
    num, unit = line.split(" ")[:2]
    num = float(num.replace(",", ""))
    if unit in _SIZE:
        return num * _SIZE[unit] / MB
    return num * _TIME[unit]


class StreamEvents(StreamingQueryListener):
    """Keeps every progress event; attribution happens at read time."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs or {}
        self.events.append(
            {
                "run": str(p.runId),
                "trigger_s": d.get("triggerExecution", 0) / 1000,
                "add_batch_s": d.get("addBatch", 0) / 1000,
                "planning_s": d.get("queryPlanning", 0) / 1000,
                "wal_commit_s": d.get("walCommit", 0) / 1000,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "state_mb": sum(s.memoryUsedBytes for s in p.stateOperators)
                / MB,
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def stream_totals(events: list[dict]) -> dict[str, float]:
    """Per segment: batches and summed durations over every progress
    event; state size from each streaming query's last progress (the
    state it left behind), summed over queries."""
    out = {
        "streaming.batches": float(len(events)),
        "streaming.trigger_s": 0.0,
        "streaming.add_batch_s": 0.0,
        "streaming.planning_s": 0.0,
        "streaming.wal_commit_s": 0.0,
        "streaming.state_rows": 0.0,
        "streaming.state_mb": 0.0,
    }
    last: dict[str, dict] = {}
    for e in events:
        for k in ("trigger_s", "add_batch_s", "planning_s", "wal_commit_s"):
            out[f"streaming.{k}"] += e[k]
        last[e["run"]] = e
    for e in last.values():
        out["streaming.state_rows"] += e["state_rows"]
        out["streaming.state_mb"] += e["state_mb"]
    return out


class Census:
    """Per-segment counters for one Spark session (traced runs only)."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self.jvm = sc._gateway.jvm
        self.bus = jsc.listenerBus()
        self.dag = jsc.dagScheduler()
        self.store = jsc.statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.gc_beans = list(
            self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._stage_defaults = [
            getattr(self.store, f"stageList$default${i}")() for i in (2, 3, 4, 5)
        ]
        self.listener = StreamEvents()
        spark.streams.addListener(self.listener)
        self.marks: list[dict] = []
        self.mark(None)

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def drain(self) -> None:
        self.bus.waitUntilEmpty()

    def gc_s(self) -> float:
        return sum(b.getCollectionTime() for b in self.gc_beans) / 1000

    def _last_execution_id(self) -> int:
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        return self.sql.executionsList(int(n) - 1, 1).apply(0).executionId()

    def _stage_list(self):
        """Every retained stage attempt, newest first."""
        return self.store.stageList(
            self.jvm.java.util.ArrayList(), *self._stage_defaults
        )

    def _last_stage_id(self) -> int:
        # A job's stages, skipped ones included, reach the store with its
        # JobStart event, so after a drain the newest id is complete.
        sl = self._stage_list()
        return sl.apply(0).stageId() if sl.size() else -1

    def mark(self, label: str | None) -> None:
        """Close the segment ``label`` (None opens the first one)."""
        self.drain()
        self.marks.append(
            {
                "label": label,
                "job": self.dag.numTotalJobs() - 1,
                "stage": self._last_stage_id(),
                "execution": self._last_execution_id(),
                "gc_s": self.gc_s(),
                "stream_events": len(self.listener.events),
            }
        )

    # -- readers -----------------------------------------------------

    def _stages(self, lo: int, hi: int) -> list[tuple[int, dict]]:
        """Stage records with lo < id <= hi (newest-first store order)."""
        sl = self._stage_list()
        out = []
        for i in range(sl.size()):
            s = sl.apply(i)
            sid = s.stageId()
            if sid <= lo:
                break
            if sid > hi or s.status().toString() == "SKIPPED":
                continue
            out.append(
                (
                    sid,
                    {
                        "stages": 1,
                        "tasks": s.numCompleteTasks(),
                        "failed_tasks": s.numFailedTasks(),
                        "task_run_s": s.executorRunTime() / 1e3,
                        "task_cpu_s": s.executorCpuTime() / 1e9,
                        "shuffle_fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
                        "input_mb": s.inputBytes() / MB,
                        "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                        "shuffle_read_mb": s.shuffleReadBytes() / MB,
                        "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled())
                        / MB,
                    },
                )
            )
        return out

    def _operators(self, execution_id: int) -> dict[str, float]:
        """Operator totals from one SQL execution's plan-graph metrics."""
        values = self.sql.executionMetrics(execution_id)
        graph = self.sql.planGraph(execution_id)
        nodes, parents_of = {}, {}
        all_nodes = graph.allNodes()
        for i in range(all_nodes.size()):
            n = all_nodes.apply(i)
            ms = n.metrics()
            metrics = {}
            for j in range(ms.size()):
                m = ms.apply(j)
                name = m.name()
                if name not in WANTED:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[name] = parse_metric(v.get(), m.metricType())
            nodes[n.id()] = (n.name(), metrics)
        edges = graph.edges()
        for i in range(edges.size()):
            e = edges.apply(i)
            parents_of.setdefault(e.toId(), []).append(e.fromId())

        def rows_into(nid: int) -> float:
            # Rows entering a node: the nearest upstream operator that
            # counts its output rows (Sort and Project do not).
            total = 0.0
            for child in parents_of.get(nid, []):
                cm = nodes[child][1]
                total += cm[ROWS] if ROWS in cm else rows_into(child)
            return total

        out = {
            "op.scan_s": 0.0,
            "op.agg_build_s": 0.0,
            "op.broadcast_build_s": 0.0,
            "op.exchange_mb": 0.0,
            "python.rows_sent": 0.0,
            "python.rows_received": 0.0,
            "python.mb_sent": 0.0,
        }
        for nid, (name, m) in nodes.items():
            out["op.scan_s"] += m.get(SCAN, 0.0)
            out["op.agg_build_s"] += m.get(AGG_BUILD, 0.0)
            if name.startswith("BroadcastExchange"):
                out["op.broadcast_build_s"] += m.get(BUILD, 0.0)
            elif name.startswith("Exchange"):
                out["op.exchange_mb"] += m.get(DATA_SIZE, 0.0)
            if PY_SENT in m:
                out["python.mb_sent"] += m[PY_SENT]
                out["python.rows_received"] += m.get(ROWS, 0.0)
                out["python.rows_sent"] += rows_into(nid)
        return out

    def take(self) -> dict[str, dict[str, float]]:
        """Counters per segment closed since the last ``take``, summed
        over segments that share a label."""
        stage_cuts = [(m["stage"], m["label"]) for m in self.marks[1:]]
        exec_cuts = [(m["execution"], m["label"]) for m in self.marks[1:]]
        stages = attribute(
            self._stages(self.marks[0]["stage"], self.marks[-1]["stage"]),
            stage_cuts,
        )
        ops = attribute(
            (
                (eid, self._operators(eid))
                for eid in range(
                    self.marks[0]["execution"] + 1, self.marks[-1]["execution"] + 1
                )
            ),
            exec_cuts,
        )
        out: dict[str, dict[str, float]] = {}
        for prev, m in zip(self.marks, self.marks[1:]):
            seg = out.setdefault(m["label"], {})
            ev = self.listener.events[prev["stream_events"] : m["stream_events"]]
            add = {
                "jobs": m["job"] - prev["job"],
                "sql_executions": m["execution"] - prev["execution"],
                "gc_s": m["gc_s"] - prev["gc_s"],
                **stream_totals(ev),
            }
            for k, v in add.items():
                seg[k] = seg.get(k, 0) + v
        for label, seg in out.items():
            for k, v in {**stages[label], **ops[label]}.items():
                seg[k] = seg.get(k, 0) + v
        self.marks = self.marks[-1:]
        return out


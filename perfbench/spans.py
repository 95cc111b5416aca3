"""Spans, counters and Spark-side probes of one benchmark run.

Everything here is installed from benchmark code around the library's
public calls; nothing in the library changes.  Spans are held in memory
and summarized when the run ends.

* ``Tracer`` records spans (name, layer, start, end, parent span, run
  id).  foreachBatch bodies run on py4j callback threads; a span opened
  there takes the main thread's innermost open span as its parent,
  because the main thread is blocked in the stream call meanwhile.
  A layer's self time is the time its spans cover minus the part their
  child spans cover.
* ``install_probes`` wraps the library's layer boundaries (run store
  writes, compactions, manifest commits and head reads) with spans.
* ``ProgressListener`` keeps every ``StreamingQueryProgress`` (Spark's
  own per-batch report); it is on in untraced runs too.
* ``QueryListener`` keeps the ``QueryExecution`` of every action; after
  the run, ``plan_stats`` reads Catalyst phase times and the operator
  metrics of each final (adaptive) plan from them.
"""

from __future__ import annotations

import contextlib
import statistics
import threading
import time
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

HARNESS = "bench"


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self._local = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    # ---- spans -------------------------------------------------------

    def _stack(self) -> list[int]:
        if threading.current_thread() is self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Time a block as a span; a no-op when tracing is off."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "layer": layer, "parent": parent,
                 "start": time.time(), "end": None, "run": self.run_id}
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def add_span(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a span measured elsewhere (Catalyst phases); its parent
        is the innermost recorded span that contains it."""
        if not self.enabled or end <= start:
            return
        # spans nest, so the innermost container is the latest to start
        inside = [s for s in self.spans
                  if s["end"] is not None and s["start"] <= start and end <= s["end"]]
        parent = max(inside, key=lambda s: s["start"])["id"] if inside else None
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "layer": layer, "parent": parent,
                 "start": start, "end": end, "run": self.run_id}
            )

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.counts[key] += n

    def sample(self, key: str, value: float) -> None:
        with self._lock:
            self.samples[key].append(value)

    # ---- wrappers ----------------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` by a spanned wrapper; ``after(result,
        seconds)`` runs after each call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            with tracer.span(name, layer):
                out = orig(*args, **kwargs)
            if after is not None:
                after(out, time.perf_counter() - t0)
            return out

        wrapper.__wrapped__ = orig
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---- summary -----------------------------------------------------

    def summary(self) -> dict[str, float]:
        """Counters as recorded, sample lists as their medians."""
        return {**self.counts, **{k: p50(v) for k, v in self.samples.items()}}

    def self_times(self, root_id: int) -> dict[str, float]:
        """Self seconds per layer over the subtree of ``root_id``."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)

        def visit(s):
            lo, hi = s["start"], s["end"]
            ivs = sorted(
                (max(lo, c["start"]), min(hi, c["end"])) for c in children[s["id"]]
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for a, b in ivs:
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["layer"]] += (hi - lo) - covered
            for c in children[s["id"]]:
                visit(c)

        visit(self.spans[root_id])
        return dict(out)


def install_probes(tracer: Tracer) -> None:
    """Spans and counters at the library's layer boundaries."""
    from mysql_cdc_redis_spark.sources import changelog
    from mysql_cdc_redis_spark.streaming import commitlog, compact_jvm, dedup_stream

    # the changelog builders' fixture scan (the snapshot query's source)
    tracer.wrap(changelog, "load_table", "load_table", "sources")

    def commit_done(_out, dt):
        tracer.count("commitlog.commits")
        tracer.sample("commitlog.commit_ms_p50", dt * 1e3)

    tracer.wrap(commitlog.ManifestLog, "commit", "manifest_commit", "streaming.commitlog", commit_done)
    tracer.wrap(
        commitlog.ManifestLog, "head", "manifest_head", "streaming.commitlog",
        lambda _o, _dt: tracer.count("commitlog.head_reads"),
    )

    runs = compact_jvm._StateRuns
    tracer.wrap(runs, "append", "append", "streaming.compact_jvm")
    tracer.wrap(runs, "write_run", "run_write", "streaming.compact_jvm")

    def compaction_done(_out, dt):
        tracer.count("compact_jvm.compactions")
        tracer.sample("compact_jvm.compaction_batch_s", dt)

    tracer.wrap(runs, "write_base", "base_compaction", "streaming.compact_jvm", compaction_done)

    tracer.wrap(dedup_stream, "_write_run", "run_write", "streaming.dedup_stream")

    def lsh_compaction_done(ran, dt):
        if ran:
            tracer.count("dedup_stream.compactions")
            tracer.count("dedup_stream.compact_s", dt)

    tracer.wrap(dedup_stream, "compact_lsh_state", "lsh_compaction", "streaming.dedup_stream",
                lsh_compaction_done)


class ProgressListener(StreamingQueryListener):
    """Keeps the per-batch progress Spark reports for every query."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append(
                {"id": str(p.id), "batch": p.batchId, "rows": p.numInputRows,
                 "ms": dict(p.durationMs)}
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def mark(self) -> int:
        with self._lock:
            return len(self.progress)

    def since(self, mark: int, expect: int, timeout_s: float = 10.0) -> list[dict]:
        """Progress reports after ``mark``, waiting for ``expect`` data
        batches: the listener bus delivers them asynchronously."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = [p for p in self.progress[mark:] if p["rows"] > 0]
            if len(got) >= expect or time.monotonic() > deadline:
                return got
            time.sleep(0.02)


class QueryListener:
    """py4j implementation of Spark's QueryExecutionListener that only
    keeps each successful action's QueryExecution for later reading."""

    def __init__(self):
        self.executions: list = []
        self.enabled = False

    def onSuccess(self, func_name, qe, duration_ns):
        if self.enabled:
            self.executions.append((func_name, qe, duration_ns))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def _metric(node, key: str) -> float:
    opt = node.metrics().get(key)
    return float(opt.get().value()) if opt.isDefined() else 0.0


def _plan_nodes(plan):
    """Every node of a physical plan, descending into adaptive plans,
    query stages and subqueries."""
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage") or name == "ReusedExchange":
            todo.append(node.plan() if name.endswith("QueryStage") else node.child())
            continue
        yield name, node
        todo.extend(_scala_iter(node.children()))
        todo.extend(_scala_iter(node.subqueries()))


def _scan(node, out: dict[str, float]) -> None:
    out["sources.scan_mb"] += _metric(node, "filesSize") / 1e6
    out["sources.scan_files"] += _metric(node, "numFiles")
    out["sources.scan_tasks"] += float(node.inputRDD().getNumPartitions())


def _is_scan(node) -> bool:
    return node.getClass().getSimpleName() == "FileSourceScanExec"


def scan_stats(executions: list) -> dict[str, float]:
    """File-scan metrics (MB, files, tasks) of the given recorded actions,
    keyed ``scan_mb``, ``scan_files``, ``scan_tasks``."""
    out: dict[str, float] = defaultdict(float)
    for _func, qe, _ns in executions:
        for _name, node in _plan_nodes(qe.executedPlan()):
            if _is_scan(node):
                _scan(node, out)
    return {k.removeprefix("sources."): v for k, v in out.items()}


def plan_stats(listener: QueryListener, tracer: Tracer) -> dict[str, float]:
    """Catalyst phase spans and operator metrics of every recorded action."""
    out: dict[str, float] = defaultdict(float)
    for _func, qe, _ns in listener.executions:
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            if opt.isDefined():
                summary = opt.get()
                start, end = summary.startTimeMs() / 1e3, summary.endTimeMs() / 1e3
                out[f"catalyst.{ph}_ms"] += (end - start) * 1e3
                tracer.add_span(ph, "catalyst", start, end)
        for name, node in _plan_nodes(qe.executedPlan()):
            if _is_scan(node):
                _scan(node, out)
            elif name in ("Exchange", "ShuffleExchange"):
                out["exec.shuffle_mb"] += _metric(node, "dataSize") / 1e6
            elif name == "BroadcastExchange":
                out["exec.broadcast_ms"] += _metric(node, "broadcastTime")
            elif name in ("Sort", "HashAggregate", "ObjectHashAggregate", "SortAggregate"):
                out["exec.spill_mb"] += _metric(node, "spillSize") / 1e6
        out["exec.actions"] += 1
    return dict(out)


def p50(values) -> float:
    return float(statistics.median(values)) if values else 0.0

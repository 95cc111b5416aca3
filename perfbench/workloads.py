"""The benchmark's workloads.  Each drives the library only through its
public functions, as one closed-loop caller (the next call waits for the
previous one), and fills an ``Outcome`` with metrics, operation counts
and check results.

``run.py`` calls, in order: ``warmup`` and ``generate`` (set-up),
``timed`` (the measured part, inside one root span), ``check`` (untimed
correctness checks against independent references) and ``cleanup``.

Every measured step is timed on two clocks (``Clock``): wall seconds,
and CPU seconds of the session's JVM plus this Python process.  A
``SpeedProbe`` samples how fast the host runs a fixed loop meanwhile;
the end-to-end time metrics are scaled by it to a reference speed
(``run.py``), and the raw numbers stay in the per-layer set and in the
run's detail record.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import gen
import oracle
import spans
from spans import Tracer, p50

from mysql_cdc_redis_spark.benchutil import checksum_row
from mysql_cdc_redis_spark.operators.compaction import compact, merge_state
from mysql_cdc_redis_spark.operators.dedup import (
    lsh_candidate_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
    shingle_hashes,
)
from mysql_cdc_redis_spark.operators.dump import dump_to_csv, read_dump
from mysql_cdc_redis_spark.plans.catalog import get_query
from mysql_cdc_redis_spark.streaming import (
    drop_state_jvm,
    run_compaction_stream_jvm,
    run_dedup_stream_minhash,
)
from mysql_cdc_redis_spark.streaming.commitlog import LocalFS, ManifestLog

# Sizes keep one run near a minute on a 4-core VM, so that the 48 runs
# of a full measurement fit in 3,420 s (README.md).
#
# CDC: a snapshot compaction of a seeded orders table through the query
# catalog, 9 backlog files (one periodic compaction at the default
# max_runs=8), then 5 increments (the median of 3 spread 0.18 over ten
# seeds).
SNAPSHOT_QUERY = "cdc_compact_orders"
SNAPSHOT_ORDERS = 20_000
CDC_SPEC = gen.ChangelogSpec(
    backlog_files=9, events_per_file=8_000, trickle_files=5,
    events_per_trickle=1_000, n_keys=30_000, days=3, zipf_s=0.8,
)
CDC_WARMUP_SPEC = gen.ChangelogSpec(
    backlog_files=3, events_per_file=500, trickle_files=1,
    events_per_trickle=100, n_keys=1_000, days=3,
)
# dedup: 1 batch in the backlog call (the corpus), then 1 increment of
# one batch that probes it
DOCS_SPEC = gen.DocsSpec(batches=2, docs_per_batch=200, dup_share=0.1, cross_share=0.5)
DOCS_BACKLOG = 1
# warm-up batches as large as the timed ones, so that the JIT has compiled
# the hot paths before timing starts, not while the timed batches run
DOCS_WARMUP_SPEC = gen.DocsSpec(batches=2, docs_per_batch=200)
# the final state is read this many times; the read metrics are medians
READS = 3
# the library's default, spelled out because the checks need it too
DEDUP_THRESHOLD = 0.2


@dataclass
class Outcome:
    metrics: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    checks: dict[str, bool] = field(default_factory=dict)

    def op(self, ok: bool = True) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = bool(ok)
        self.op(ok)


class SpeedProbe(threading.Thread):
    """How fast one core of the host runs right now.  Every ``period``
    seconds the thread runs a fixed pure-Python loop and records its
    thread CPU seconds, grouped by the phase named by the last ``mark``.
    On a shared VM other tenants change the speed of a core by up to
    ~1.6x within minutes, with no steal time to show for it; the loop
    slows down with them, and it shares no code with the library.
    ``REF_S`` is the loop's time on an uncontended core of a 2 GHz
    Xeon (Sapphire Rapids).  Spark's work slows less than the
    interpreter loop does: ``ELASTICITY`` is the exponent of a log-log
    fit of the benchmark's unscaled times on the loop's speed (README.md)."""

    REF_S = 0.005
    LOOP = 60_000
    ELASTICITY = 0.6

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.phase = "setup"
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu = 0.0  # the probe's own CPU seconds, kept out of Clock
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            t = time.thread_time()
            s = 0
            for i in range(self.LOOP):
                s += i * i % 7
            dt = time.thread_time() - t
            self.samples[self.phase].append(dt)
            self.cpu += dt

    def mark(self, phase: str) -> None:
        self.phase = phase

    def speed(self, phase: str) -> float:
        """Reference loop time / median loop time in ``phase`` (1 = the
        reference host, below 1 = slower)."""
        return self.REF_S / p50(self.samples[phase]) if self.samples[phase] else 1.0

    def scale(self, phase: str) -> float:
        """Multiply a time measured in ``phase`` by this to get reference
        seconds."""
        return self.speed(phase) ** self.ELASTICITY

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Clock:
    """Wall seconds and CPU seconds (the session's JVM + this Python
    process, user + system, less the speed probe's own) read together."""

    def __init__(self, jvm_pid: int, probe: SpeedProbe | None = None):
        self.stat = f"/proc/{jvm_pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")
        self.probe = probe

    def now(self) -> tuple[float, float]:
        with open(self.stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        jvm = (int(fields[11]) + int(fields[12])) / self.tick
        own = self.probe.cpu if self.probe else 0.0
        return time.perf_counter(), jvm + time.process_time() - own

    def since(self, t0: tuple[float, float]) -> tuple[float, float]:
        wall, cpu = self.now()
        return wall - t0[0], cpu - t0[1]


def _du(*paths: str) -> int:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _jobs(spark: SparkSession) -> int:
    """Jobs submitted so far in this SparkContext."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _ms(batch: dict, key: str) -> float:
    return float(batch["ms"].get(key, 0))


def _batch_layers(prefix: str, batches: list[dict], jobs: int) -> dict[str, float]:
    return {
        f"{prefix}.add_batch_p50_ms": p50([_ms(b, "addBatch") for b in batches]),
        f"{prefix}.trigger_overhead_p50_ms": p50(
            [_ms(b, "triggerExecution") - _ms(b, "addBatch") for b in batches]
        ),
        f"{prefix}.jobs_per_batch": jobs / max(len(batches), 1),
    }


class _Stream:
    """What both workloads share: a source dir that files land in and one
    resume call per landed increment."""

    layer = ""

    def __init__(self, spark: SparkSession, work: str, tracer: Tracer, listener,
                 clock=None, queries=None):
        self.spark, self.work, self.tracer = spark, work, tracer
        self.listener, self.clock, self.queries = listener, clock, queries
        self.src = os.path.join(work, "src")

    def _call(self, src: str, root: str):
        raise NotImplementedError

    def _increment(self, path: str, kind: str) -> tuple[float, float, float]:
        """Land one file and make one resume call.  Returns (wall, CPU,
        wall minus the batch time Spark reported), each from the moment
        the file lands until the call returns with the state committed."""
        mark = self.listener.mark()
        t = self.clock.now()
        with self.tracer.span(kind, self.layer):
            gen.land(path, self.src)
            self.result = self._call(self.src, self.root)
        wall, cpu = self.clock.since(t)
        self.landed.append(path)
        batches = self.listener.since(mark, 1)
        return wall, cpu, wall - sum(_ms(b, "triggerExecution") for b in batches) / 1e3

    def _read(self, action, out: Outcome):
        """Run ``action`` (a full read of the final state) READS times;
        returns its result and the median (wall, CPU) of one read."""
        walls, cpus = [], []
        with self.tracer.span("state_read", self.layer):
            for _ in range(READS):
                t = self.clock.now()
                result = action()
                wall, cpu = self.clock.since(t)
                walls.append(wall)
                cpus.append(cpu)
                out.op()
        return result, p50(walls), p50(cpus)


class CdcIngest(_Stream):
    """Compact a table snapshot through the query catalog, drain a
    changelog backlog, trickle small increments, then read, dump and
    replay the state: binlog -> keyed compaction -> dump -> load."""

    name = "cdc_ingest"
    layer = "streaming.compact_jvm"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.schema = StructType.fromDDL(gen.CHANGELOG_DDL)
        self.sf_dir = os.path.join(self.work, "sf")
        self.query = get_query(SNAPSHOT_QUERY)

    def _drain_listeners(self) -> int:
        """Actions the query listener has recorded so far, once Spark's
        listener bus has delivered every event posted before this call
        (it delivers asynchronously).  Only traced runs record actions."""
        if not self.tracer.enabled:
            return 0
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self.queries.executions)

    def _call(self, src: str, root: str, max_runs: int | None = None):
        return run_compaction_stream_jvm(
            self.spark, src, self.schema, gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD,
            checkpoint_dir=os.path.join(root, "ckpt"),
            state_dir=os.path.join(root, "state"),
            max_files_per_trigger=1, max_runs=max_runs,
        )

    def _replay(self, state_df, dump_dir: str):
        """The state a dump loads back to: read it and fold it into an
        empty state through the same merge, every row keeping its action
        (the reference's CSV load into a fresh cache)."""
        # read_dump appends "dt" to the schema it is given: hand it a copy
        schema = StructType(list(state_df.schema.fields))
        back = read_dump(self.spark, dump_dir, schema=schema).drop("dt")
        return merge_state(
            self.spark.createDataFrame([], state_df.schema),
            back.withColumn("seq", F.lit(0).cast("long")),
            gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD,
        ).select("tbl", "rid", "cdc_action", *gen.CHANGELOG_PAYLOAD)

    def warmup(self) -> None:
        """Run every plan shape of the timed part once on a tiny input:
        the snapshot query, a drain with a compaction, read, dump, replay."""
        w = os.path.join(self.work, "warmup")
        gen.write_orders(500, 0, os.path.join(w, "sf"))
        checksum_row(self.query.fn(self.spark, os.path.join(w, "sf")))
        backlog, trickle = gen.write_changelog(CDC_WARMUP_SPEC, 0, os.path.join(w, "gen"))
        src = os.path.join(w, "src")
        os.makedirs(src)
        for p in backlog + trickle:
            gen.land(p, src)
        st = self._call(src, w, max_runs=2)
        checksum_row(st)
        dump_to_csv(st, os.path.join(w, "dump"), date_col="v_ts")
        checksum_row(self._replay(st, os.path.join(w, "dump")))
        drop_state_jvm(self.spark, os.path.join(w, "state"))
        shutil.rmtree(w, ignore_errors=True)

    def generate(self, seed: int) -> None:
        self.orders = gen.write_orders(SNAPSHOT_ORDERS, seed, self.sf_dir)
        self.backlog, self.trickle = gen.write_changelog(
            CDC_SPEC, seed, os.path.join(self.work, "gen")
        )
        os.makedirs(self.src)
        for p in self.backlog:
            gen.land(p, self.src)

    def timed(self, out: Outcome) -> None:
        tr, spark, clock = self.tracer, self.spark, self.clock
        self.root = os.path.join(self.work, "run")
        self.landed = list(self.backlog)

        # snapshot: the catalog query builds its plan (q.fn: the orders
        # scan, the changelog synthesis, the compaction), checksum_row
        # runs it
        first = self._drain_listeners()
        t0 = clock.now()
        with tr.span(SNAPSHOT_QUERY, "plans"):
            self.snapshot = self.query.fn(spark, self.sf_dir)
        build_s, _ = clock.since(t0)
        t = clock.now()
        with tr.span(SNAPSHOT_QUERY, "operators.compaction"):
            self.snapshot_sig = checksum_row(self.snapshot)
        exec_s, _ = clock.since(t)
        out.op()
        self.snapshot_actions = (first, self._drain_listeners())

        mark, jobs0 = self.listener.mark(), _jobs(spark)
        t = clock.now()
        with tr.span("drain_call", self.layer):
            self.result = self._call(self.src, self.root)
        drain_wall, drain_cpu = clock.since(t)
        out.op()
        jobs_drain = _jobs(spark) - jobs0
        drain = self.listener.since(mark, CDC_SPEC.backlog_files)

        incs = []
        for p in self.trickle:
            incs.append(self._increment(p, "trickle_call"))
            out.op()
        st = self.result

        self.state_sig, read_wall, read_cpu = self._read(lambda: checksum_row(st), out)

        dump_dir = os.path.join(self.work, "dump")
        t = clock.now()
        with tr.span("dump_write", "operators.dump"):
            dump_to_csv(st, dump_dir, date_col="v_ts")
        write_s, _ = clock.since(t)
        out.op()
        t = clock.now()
        with tr.span("replay", "operators.dump"):
            replayed = self._replay(st, dump_dir)
            replay_build_s, _ = clock.since(t)
            self.replay_sig = checksum_row(replayed)
        replay_s, _ = clock.since(t)
        out.op()
        wall, cpu = clock.since(t0)

        self._state_size(out)

        out.metrics.update(
            cpu_s=cpu,
            events_per_cpu_s=CDC_SPEC.backlog_events / drain_cpu,
            increment_cpu_s=p50([c for _, c, _ in incs]),
        )
        out.layer.update({
            "raw.wall_s": wall,
            "wall.events_per_s": CDC_SPEC.backlog_events / drain_wall,
            "wall.batch_p50_s": p50([_ms(b, "triggerExecution") / 1e3 for b in drain]),
            "wall.increment_p50_s": p50([w for w, _, _ in incs]),
            "wall.state_read_s": read_wall,
            "cpu.state_read_s": read_cpu,
            **_batch_layers("compact_jvm", drain, jobs_drain),
            "compact_jvm.call_overhead_ms": p50([o * 1e3 for _, _, o in incs]),
            "dump.write_s": write_s,
            "dump.files": float(sum(
                f.endswith(".csv") for _, _, fs in os.walk(dump_dir) for f in fs
            )),
            "dump.replay_s": replay_s,
            "plans.replay.build_s": replay_build_s,
            f"plans.{SNAPSHOT_QUERY}.build_s": build_s,
            f"exec.{SNAPSHOT_QUERY}.s": exec_s,
        })

    def _state_size(self, out: Outcome) -> None:
        """State on disk after the fixed cycle: runs, base tables and
        manifests."""
        wh = self.spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        state_dir = os.path.join(self.root, "state")
        out.metrics["state_mb"] = _du(state_dir, wh) / 1e6
        out.layer["compact_jvm.base_mb"] = _du(wh) / 1e6
        head = ManifestLog(LocalFS(), state_dir).head()
        views = head[1]["views"] if head else {}
        top = views[max(views, key=int)] if views else {"runs": []}
        out.layer["compact_jvm.runs_live"] = float(len(top["runs"]))

    def check(self, out: Outcome) -> None:
        """The snapshot query's rows equal its registered DuckDB oracle over
        the same orders file; the final state equals an independent
        DuckDB fold of the landed files; the state loaded back from the
        dump equals the state."""
        cols, want = oracle.catalog_oracle(self.query.oracle, {"orders": self.orders})
        got = _rows(self.snapshot.select(*cols))
        out.check(
            "snapshot_equals_catalog_oracle",
            sorted(cols) == sorted(self.snapshot.columns)
            and len(got) == self.snapshot_sig["n"]
            and oracle.same_rows(got, want),
        )
        if self.tracer.enabled:
            a, b = self.snapshot_actions
            scans = spans.scan_stats(self.queries.executions[a:b])
            out.layer.update({f"sources.{SNAPSHOT_QUERY}.{k}": v for k, v in scans.items()})

        want = oracle.duckdb_fold(self.landed, gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD)
        got = _rows(self.result.select("tbl", "rid", "cdc_action", *gen.CHANGELOG_PAYLOAD))
        out.check("state_equals_duckdb_fold", oracle.same_rows(got, want))
        out.check(
            "replay_equals_state",
            (self.replay_sig["n"], self.replay_sig["chk"])
            == (self.state_sig["n"], self.state_sig["chk"]),
        )
        if self.tracer.enabled:
            # operators.compaction: the batch compactor over the same files
            t = time.perf_counter()
            checksum_row(compact(
                self.spark.read.schema(self.schema).parquet(*self.landed),
                gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD,
            ))
            out.layer["compaction.batch_s"] = time.perf_counter() - t

    def cleanup(self) -> None:
        drop_state_jvm(self.spark, os.path.join(self.root, "state"))


class DedupStream(_Stream):
    """Near-duplicate detection as documents arrive: a backlog call over
    the first batches, then one resume call per further batch."""

    name = "dedup_stream"
    layer = "streaming.dedup_stream"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.schema = StructType.fromDDL(gen.DOCS_DDL)

    def _call(self, src: str, root: str):
        return run_dedup_stream_minhash(
            self.spark, src, self.schema,
            checkpoint_dir=os.path.join(root, "ckpt"),
            state_dir=os.path.join(root, "state"),
            pairs_dir=os.path.join(root, "pairs"),
            threshold=DEDUP_THRESHOLD, max_files_per_trigger=1,
        )

    def warmup(self) -> None:
        """Two tiny batches in one call: the first-batch and the probe
        plan shapes, then the pair-set read."""
        w = os.path.join(self.work, "warmup")
        paths, _ = gen.write_docs(DOCS_WARMUP_SPEC, 0, os.path.join(w, "gen"))
        src = os.path.join(w, "src")
        os.makedirs(src)
        for p in paths:
            gen.land(p, src)
        _rows(self._call(src, w))
        shutil.rmtree(w, ignore_errors=True)

    def generate(self, seed: int) -> None:
        self.paths, self.planted = gen.write_docs(DOCS_SPEC, seed, os.path.join(self.work, "gen"))
        os.makedirs(self.src)
        for p in self.paths[:DOCS_BACKLOG]:
            gen.land(p, self.src)

    def timed(self, out: Outcome) -> None:
        tr, spark, clock = self.tracer, self.spark, self.clock
        self.root = os.path.join(self.work, "run")
        self.landed = list(self.paths[:DOCS_BACKLOG])
        mark, jobs0 = self.listener.mark(), _jobs(spark)
        t0 = clock.now()
        with tr.span("backlog_call", self.layer):
            self.result = self._call(self.src, self.root)
        out.op()
        incs = []
        for p in self.paths[DOCS_BACKLOG:]:
            incs.append(self._increment(p, "trickle_call"))
            out.op()
        jobs = _jobs(spark) - jobs0
        calls_wall, calls_cpu = clock.since(t0)
        self.pairs, read_wall, read_cpu = self._read(lambda: _rows(self.result), out)
        wall, cpu = clock.since(t0)

        batches = self.listener.since(mark, len(self.landed))
        self._state_size(out)

        # docs ingested / time of every stream call, the backlog call and
        # the increments
        out.metrics.update(
            cpu_s=cpu,
            events_per_cpu_s=DOCS_SPEC.total_docs / calls_cpu,
            increment_cpu_s=p50([c for _, c, _ in incs]),
        )
        out.layer.update({
            "raw.wall_s": wall,
            "wall.events_per_s": DOCS_SPEC.total_docs / calls_wall,
            "wall.batch_p50_s": p50([_ms(b, "triggerExecution") / 1e3 for b in batches]),
            "wall.increment_p50_s": p50([w for w, _, _ in incs]),
            "wall.state_read_s": read_wall,
            "cpu.state_read_s": read_cpu,
            **_batch_layers("dedup_stream", batches, jobs),
        })

    def _state_size(self, out: Outcome) -> None:
        """State on disk after the fixed cycle: runs and manifests."""
        state_dir = os.path.join(self.root, "state")
        out.metrics["state_mb"] = _du(state_dir) / 1e6
        head = ManifestLog(LocalFS(), state_dir).head()
        out.layer["dedup_stream.runs_live"] = float(len(head[1]["runs"]) if head else 0)

    def check(self, out: Outcome) -> None:
        """The streamed pair set equals the one-shot batch operator's over
        all landed documents, and at least 90% of the planted pairs whose
        true Jaccard reaches the threshold are found."""
        docs = self.spark.read.schema(self.schema).parquet(*self.landed)
        t = time.perf_counter()
        want = _rows(minhash_lsh_pairs(docs, threshold=DEDUP_THRESHOLD))
        out.layer["dedup.batch_s"] = time.perf_counter() - t
        out.layer["dedup.pairs"] = float(len(want))
        out.check("pairs_equal_batch_operator", oracle.same_pairs(self.pairs, want))

        texts = {int(r[0]): r[1] for r in docs.collect()}
        recall, eligible = oracle.planted_recall(self.planted, texts, self.pairs, DEDUP_THRESHOLD)
        out.layer["dedup.pair_recall"] = recall
        out.layer["dedup.planted_eligible"] = float(eligible)
        out.check("planted_pair_recall_at_least_0.9", recall >= 0.9)
        if self.tracer.enabled:
            cands = lsh_candidate_pairs(minhash_signatures(shingle_hashes(docs))).count()
            out.layer["dedup.candidates"] = float(cands)
            out.layer["dedup.verify_yield"] = len(want) / max(cands, 1)

    def cleanup(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (CdcIngest, DedupStream)}

"""Tests of the benchmark itself: generators, oracles, checks and the
output contract.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

from the repository root.  The Spark tests start a local[2] session.
``PERFBENCH_FULL=1`` adds end-to-end runs of every workload, traced and
untraced (several minutes).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import oracle  # noqa: E402

SMALL_CDC = gen.ChangelogSpec(
    backlog_files=3, events_per_file=400, trickle_files=2,
    events_per_trickle=100, n_keys=300, days=2,
)
SMALL_DOCS = gen.DocsSpec(batches=3, docs_per_batch=40)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- generators ---------------------------------------------------------


def _same_files(a: list[str], b: list[str]) -> bool:
    return len(a) == len(b) and all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))


def test_changelog_same_seed_is_byte_identical(tmp_path):
    b1, t1 = gen.write_changelog(SMALL_CDC, 5, str(tmp_path / "a"))
    b2, t2 = gen.write_changelog(SMALL_CDC, 5, str(tmp_path / "b"))
    b3, t3 = gen.write_changelog(SMALL_CDC, 6, str(tmp_path / "c"))
    assert _same_files(b1 + t1, b2 + t2)
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(b1 + t1, b3 + t3))


def test_docs_same_seed_is_byte_identical(tmp_path):
    p1, pl1 = gen.write_docs(SMALL_DOCS, 5, str(tmp_path / "a"))
    p2, pl2 = gen.write_docs(SMALL_DOCS, 5, str(tmp_path / "b"))
    p3, pl3 = gen.write_docs(SMALL_DOCS, 6, str(tmp_path / "c"))
    assert _same_files(p1, p2) and pl1 == pl2
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(p1, p3))


def test_orders_same_seed_is_byte_identical(tmp_path):
    a = gen.write_orders(500, 5, str(tmp_path / "a"))
    b = gen.write_orders(500, 5, str(tmp_path / "b"))
    c = gen.write_orders(500, 6, str(tmp_path / "c"))
    assert filecmp.cmp(a, b, shallow=False) and not filecmp.cmp(a, c, shallow=False)
    assert os.path.basename(a) == "orders.parquet"


def test_generated_files_have_strictly_increasing_mtimes(tmp_path):
    backlog, trickle = gen.write_changelog(SMALL_CDC, 1, str(tmp_path / "c"))
    docs, _ = gen.write_docs(SMALL_DOCS, 1, str(tmp_path / "d"))
    for paths in (backlog + trickle, docs):
        mt = [os.stat(p).st_mtime for p in paths]
        assert all(a < b for a, b in zip(mt, mt[1:]))
    landed = gen.land(trickle[0], str(tmp_path))
    assert os.stat(landed).st_mtime == os.stat(trickle[0]).st_mtime


def test_changelog_covers_every_action_pair():
    t = gen.changelog_events(SMALL_CDC, 3).to_pydict()
    last: dict = {}
    pairs = set()
    for acct, line, a in zip(t["acct"], t["line"], t["cdc_action"]):
        if line is None:
            continue
        k = (acct, line)
        if k in last:
            pairs.add((last[k], a))
        last[k] = a
    acts = ("insert", "update", "delete")
    assert pairs == {(x, y) for x in acts for y in acts}
    assert any(line is None for line in t["line"])  # the reject path


def test_docs_plant_the_stated_duplicate_shares():
    spec = gen.DocsSpec(batches=4, docs_per_batch=100, dup_share=0.1, cross_share=0.5)
    batches, planted = gen.docs_batches(spec, 2)
    batch_of = {i: b for b, t in enumerate(batches) for i in t.column("doc_id").to_pylist()}
    assert sum(t.num_rows for t in batches) == spec.total_docs
    assert len({x for p in planted for x in p}) == 2 * len(planted)  # disjoint pairs
    cross = sum(batch_of[a] < batch_of[b] for a, b in planted)
    assert len(planted) == 5 + 3 * 10 and cross == 3 * 5
    texts = {i: s for t in batches for i, s in zip(t.column("doc_id").to_pylist(),
                                                  t.column("text").to_pylist())}
    assert min(oracle.true_jaccard(texts[a], texts[b]) for a, b in planted) >= 0.97


def test_speed_probe_scales_by_its_phase_median():
    from workloads import SpeedProbe

    probe = SpeedProbe()
    assert probe.scale("timed") == 1.0  # no samples: no scaling
    probe.samples["timed"] = [0.004, 0.010, 0.008]
    assert probe.speed("timed") == pytest.approx(SpeedProbe.REF_S / 0.008)
    assert probe.scale("timed") == pytest.approx((SpeedProbe.REF_S / 0.008) ** 0.6)
    probe.start()
    while not probe.samples["setup"]:
        time.sleep(0.05)
    probe.stop()
    assert probe.cpu >= sum(probe.samples["setup"]) > 0


# ---- checks fail on corrupted output ------------------------------------


def test_state_check_fails_on_one_flipped_action(tmp_path):
    backlog, trickle = gen.write_changelog(SMALL_CDC, 4, str(tmp_path))
    rows = oracle.duckdb_fold(backlog + trickle, gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD)
    assert oracle.same_rows(list(reversed(rows)), rows)
    bad = list(rows)
    r = bad[7]
    bad[7] = (r[0], r[1], "delete" if r[2] != "delete" else "update", *r[3:])
    assert not oracle.same_rows(bad, rows)


def test_pairs_check_fails_on_one_dropped_pair():
    want = [(1, 2, 0.5), (3, 9, 0.75), (4, 5, 1.0)]
    assert oracle.same_pairs(list(reversed(want)), want)
    assert not oracle.same_pairs(want[1:], want)
    assert not oracle.same_pairs([(1, 2, 0.5), (3, 9, 0.7), (4, 5, 1.0)], want)


def test_recall_check_fails_when_planted_pairs_are_missed():
    texts = {1: "a b c d e f", 2: "a b c d e g", 3: "p q r s t u", 4: "p q r s t v"}
    planted = [(1, 2), (3, 4)]
    pairs = [(1, 2, 0.6), (3, 4, 0.6)]
    assert oracle.planted_recall(planted, texts, pairs, 0.2) == (1.0, 2)
    recall, _ = oracle.planted_recall(planted, texts, pairs[:1], 0.2)
    assert recall < 0.9


# ---- Spark: oracle parity and the replay check ---------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from mysql_cdc_redis_spark.session import get_spark

    wh = tmp_path_factory.mktemp("warehouse")
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  extra_conf={"spark.sql.warehouse.dir": str(wh),
                              "spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_duckdb_fold_agrees_with_compact_on_all_action_pairs(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mysql_cdc_redis_spark.operators.compaction import compact

    acts = ("insert", "update", "delete")
    seqs = [[a] for a in acts] + [[a, b] for a in acts for b in acts]
    seqs += [["insert", "delete", "insert"], ["delete", "insert", "delete"], ["update", "insert"]]
    cols = {f.name: [] for f in gen.CHANGELOG_SCHEMA}
    seq = 0
    for k, actions in enumerate(seqs):
        for a in actions:
            seq += 1
            for name, v in (
                ("seq", seq), ("db", "shop"), ("tbl", "accounts"), ("cdc_action", a),
                ("cdc_ts", 1_700_000_000_000_000 + seq), ("acct", k), ("line", 0),
                ("v_ts", 1_700_000_000_000_000 + seq), ("v_amount", seq * 1.25),
                ("v_qty", seq), ("v_status", "open"), ("v_note", f"n{seq}"),
            ):
                cols[name].append(v)
    path = str(tmp_path / "pairs.parquet")
    pq.write_table(pa.table(cols, schema=gen.CHANGELOG_SCHEMA), path)
    want = oracle.duckdb_fold([path], gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD)
    got = compact(spark.read.parquet(path), gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD)
    got_rows = [tuple(r) for r in got.select(
        "tbl", "rid", "cdc_action", *gen.CHANGELOG_PAYLOAD).collect()]
    assert oracle.same_rows(got_rows, want)
    # only the insert->delete epoch vanishes; tombstones survive
    assert len(want) == len(seqs) - 1 and Counter(r[2] for r in want)["delete"] > 0


def test_snapshot_check_matches_the_catalog_oracle_and_fails_on_one_flipped_action(
    spark, tmp_path
):
    from mysql_cdc_redis_spark.plans.catalog import get_query

    from workloads import SNAPSHOT_QUERY

    sf = str(tmp_path / "sf")
    path = gen.write_orders(600, 3, sf)
    q = get_query(SNAPSHOT_QUERY)
    cols, want = oracle.catalog_oracle(q.oracle, {"orders": path})
    got = [tuple(r) for r in q.fn(spark, sf).select(*cols).collect()]
    assert oracle.same_rows(got, want)
    # every cell of the action table is hit, tombstones included
    assert {r[cols.index("cdc_action")] for r in want} == {"insert", "update", "delete"}
    i = cols.index("cdc_action")
    bad = list(got)
    bad[5] = (*bad[5][:i], "delete" if bad[5][i] != "delete" else "insert", *bad[5][i + 1:])
    assert not oracle.same_rows(bad, want)


def test_replay_check_fails_on_a_corrupted_dump(spark, tmp_path):
    from mysql_cdc_redis_spark.benchutil import checksum_row
    from mysql_cdc_redis_spark.operators.compaction import compact
    from mysql_cdc_redis_spark.operators.dump import dump_to_csv

    from spans import Tracer
    from workloads import CdcIngest

    backlog, trickle = gen.write_changelog(SMALL_CDC, 8, str(tmp_path / "gen"))
    wl = CdcIngest(spark, str(tmp_path), Tracer("t", enabled=False), None)
    state = compact(spark.read.schema(wl.schema).parquet(*backlog, *trickle),
                    gen.CHANGELOG_PK, gen.CHANGELOG_PAYLOAD)
    state = spark.createDataFrame(state.collect(), state.schema)
    dump = str(tmp_path / "dump")
    dump_to_csv(state, dump, date_col="v_ts")

    def sig(df):
        r = checksum_row(df)
        return r["n"], r["chk"]

    assert sig(wl._replay(state, dump)) == sig(state)
    csv = next(os.path.join(d, f) for d, _, fs in os.walk(dump) for f in fs if f.endswith(".csv"))
    with open(csv) as f:
        lines = f.read().splitlines()
    row = next(i for i, ln in enumerate(lines) if ",insert," in ln)
    lines[row] = lines[row].replace(",insert,", ",delete,", 1)
    with open(csv, "w") as f:
        f.write("\n".join(lines) + "\n")
    # the local file system's checksum sidecar would reject the edit on
    # read; drop it, as a dump copied to another store would
    os.remove(os.path.join(os.path.dirname(csv), "." + os.path.basename(csv) + ".crc"))
    assert sig(wl._replay(state, dump)) != sig(state)


# ---- output contract ------------------------------------------------------


def test_benchmark_json_names_every_metric_once_with_a_unit():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in b[k]]
    assert len(names) == len(set(names))
    assert all(m["unit"] for k in ("end_to_end", "per_layer") for m in b[k])
    assert {w["name"] for w in b["workloads"]} == {"cdc_ingest", "dedup_stream"}
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25


def test_cli_refuses_to_run_outside_the_repository(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", "cdc_ingest",
           "--seed", "1", "--seconds", "1", "--trace", "0"]
    p = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0 and p.stdout.strip() == ""


@pytest.mark.skipif(os.environ.get("PERFBENCH_FULL") != "1", reason="set PERFBENCH_FULL=1")
@pytest.mark.parametrize("workload", ["cdc_ingest", "dedup_stream"])
@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_every_metric_with_its_unit(workload, trace):
    b = _benchmark()
    kind = "per_layer" if trace else "end_to_end"
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-2000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        m["name"]: m["unit"] for m in b[kind]
    }
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())

"""Seeded input generators for the benchmark's two stream workloads.

Both generators are single-threaded numpy + pyarrow, take a seed, and
write one parquet file per micro-batch with strictly increasing mtimes,
so Spark's FileStreamSource (which orders new files by mtime) delivers
them in seq order.  The same seed gives byte-identical files.  The
program under test sees only these files.

* ``ChangelogSpec`` / ``write_changelog``: a binlog-style changelog over
  composite keys (acct, line) with Zipf-skewed key popularity and a
  state-aware insert/update/delete mix that still hits every cell of
  the 3x3 action-pair table (a key that exists may be re-inserted, a
  key that is absent may be updated or deleted, as after a truncate or
  a capture started mid-stream).  A small share of events carries a
  NULL key component, which the compactor must reject.
* ``DocsSpec`` / ``write_docs``: synthetic documents of random words
  with a stated share of planted near-duplicates (one word appended),
  half of them with the original in an earlier batch.
* ``write_orders``: an ``orders.parquet`` table in the TPC-H fixture
  layout, the input of the query catalog's ``cdc_compact_orders``
  (which derives its changelog from it).
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CHANGELOG_PK = ("acct", "line")
CHANGELOG_PAYLOAD = ("acct", "line", "v_ts", "v_amount", "v_qty", "v_status", "v_note")
CHANGELOG_SCHEMA = pa.schema(
    [
        ("seq", pa.int64()),
        ("db", pa.string()),
        ("tbl", pa.string()),
        ("cdc_action", pa.string()),
        ("cdc_ts", pa.timestamp("us")),
        ("acct", pa.int64()),
        ("line", pa.int32()),
        ("v_ts", pa.timestamp("us")),
        ("v_amount", pa.float64()),
        ("v_qty", pa.int32()),
        ("v_status", pa.string()),
        ("v_note", pa.string()),
    ]
)
CHANGELOG_DDL = (
    "seq bigint, db string, tbl string, cdc_action string, cdc_ts timestamp, "
    "acct bigint, line int, v_ts timestamp, v_amount double, v_qty int, "
    "v_status string, v_note string"
)
ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
DOCS_DDL = "doc_id bigint, text string"

_TABLES = ("accounts", "positions")
_ORDER_STATUSES = ("F", "O", "P")
_ORDER_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_ORDER_DAY0_US = 694_224_000_000_000  # 1992-01-01 00:00:00 UTC
_ORDER_DAYS = 2_557  # to 1998-12-31
_STATUSES = ("new", "open", "held", "closed", "void")
_LINES_PER_ACCT = 4
_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
_DAY_US = 86_400_000_000
# some file systems keep mtimes at 1 s resolution: stamp files 2 s apart
_MTIME_STEP = 2


@dataclass(frozen=True)
class ChangelogSpec:
    backlog_files: int
    events_per_file: int
    trickle_files: int
    events_per_trickle: int
    n_keys: int  # key universe; live state rows are fewer
    days: int  # v_ts spread, i.e. the number of dump date partitions
    zipf_s: float = 0.8  # key-popularity exponent, p(rank r) ∝ r^-s
    null_key_share: float = 0.002

    @property
    def backlog_events(self) -> int:
        return self.backlog_files * self.events_per_file

    @property
    def total_events(self) -> int:
        return self.backlog_events + self.trickle_files * self.events_per_trickle


@dataclass(frozen=True)
class DocsSpec:
    batches: int
    docs_per_batch: int
    dup_share: float = 0.1  # share of docs that are planted near-duplicates
    cross_share: float = 0.5  # share of planted dups whose original is in an earlier batch
    min_words: int = 40
    max_words: int = 90
    vocab: int = 4_000

    @property
    def total_docs(self) -> int:
        return self.batches * self.docs_per_batch


def _stamp_mtimes(paths: list[str], first: int) -> None:
    for i, p in enumerate(paths):
        t = first + _MTIME_STEP * i
        os.utime(p, (t, t))


def _write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _zipf_ranks(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    return rng.choice(n_keys, size=size, p=p / p.sum())


def changelog_events(spec: ChangelogSpec, seed: int) -> pa.Table:
    """All events of the changelog (backlog then trickle), in seq order."""
    rng = np.random.default_rng(seed)
    n = spec.total_events
    # hot keys are scattered over the key space, not clustered at id 0
    key_of_rank = rng.permutation(spec.n_keys)
    keys = key_of_rank[_zipf_ranks(rng, spec.n_keys, n, spec.zipf_s)]
    u = rng.random(n)
    present = np.zeros(spec.n_keys, dtype=bool)
    actions = np.empty(n, dtype=object)
    for i in range(n):
        k = keys[i]
        if present[k]:
            a = "update" if u[i] < 0.75 else ("delete" if u[i] < 0.92 else "insert")
        else:
            a = "insert" if u[i] < 0.85 else ("update" if u[i] < 0.95 else "delete")
        actions[i] = a
        present[k] = a != "delete"
    seq = np.arange(1, n + 1, dtype=np.int64)
    acct = (keys // _LINES_PER_ACCT).astype(np.int64)
    line = (keys % _LINES_PER_ACCT).astype(np.int32)
    line_mask = rng.random(n) < spec.null_key_share
    ts = _T0_US + seq * 1_000 + rng.integers(0, 1_000, n)
    return pa.table(
        {
            "seq": seq,
            "db": pa.array(["shop"] * n),
            "tbl": pa.array(np.array(_TABLES, dtype=object)[keys % len(_TABLES)]),
            "cdc_action": pa.array(actions.tolist(), pa.string()),
            "cdc_ts": pa.array(ts, pa.timestamp("us")),
            "acct": acct,
            "line": pa.array(line, pa.int32(), mask=line_mask),
            "v_ts": pa.array(
                _T0_US + rng.integers(0, spec.days, n) * _DAY_US + rng.integers(0, _DAY_US, n),
                pa.timestamp("us"),
            ),
            "v_amount": np.round(rng.random(n) * 10_000, 2),
            "v_qty": pa.array(rng.integers(0, 500, n), pa.int32()),
            "v_status": pa.array(np.array(_STATUSES, dtype=object)[rng.integers(0, 5, n)]),
            "v_note": pa.array([f"n{x:06x}" for x in rng.integers(0, 1 << 24, n)]),
        },
        schema=CHANGELOG_SCHEMA,
    )


def write_changelog(spec: ChangelogSpec, seed: int, out_dir: str) -> tuple[list[str], list[str]]:
    """Write the backlog and the trickle files under ``out_dir``; returns
    (backlog paths, trickle paths).  Trickle files carry later seqs and
    later mtimes than every backlog file, in landing order."""
    os.makedirs(out_dir, exist_ok=True)
    events = changelog_events(spec, seed)
    sizes = [spec.events_per_file] * spec.backlog_files + [
        spec.events_per_trickle
    ] * spec.trickle_files
    paths, off = [], 0
    for i, m in enumerate(sizes):
        kind = "backlog" if i < spec.backlog_files else "trickle"
        p = os.path.join(out_dir, f"{kind}-{i:05d}.parquet")
        _write_table(events.slice(off, m), p)
        paths.append(p)
        off += m
    stamp_past(paths)
    return paths[: spec.backlog_files], paths[spec.backlog_files :]


def stamp_past(paths: list[str]) -> int:
    """Stamp ``paths`` with strictly increasing mtimes that all lie in the
    past; returns the next free stamp, for files landed later."""
    first = int(time.time()) - 3_600 - _MTIME_STEP * len(paths)
    _stamp_mtimes(paths, first)
    return first + _MTIME_STEP * len(paths)


def write_orders(n_orders: int, seed: int, sf_dir: str) -> str:
    """Write ``<sf_dir>/orders.parquet``: ``n_orders`` orders with distinct
    keys drawn from [0, 2 * n_orders), in key order, one row group (the
    fixture layout); returns its path."""
    rng = np.random.default_rng(seed)
    os.makedirs(sf_dir, exist_ok=True)
    keys = np.sort(rng.choice(2 * n_orders, n_orders, replace=False)).astype(np.int64)
    day = rng.integers(0, _ORDER_DAYS, n_orders)
    table = pa.table(
        {
            "o_orderkey": keys,
            "o_custkey": rng.integers(1, max(n_orders // 10, 2), n_orders),
            "o_orderstatus": pa.array(
                np.array(_ORDER_STATUSES, dtype=object)[rng.integers(0, 3, n_orders)]
            ),
            "o_totalprice": np.round(rng.random(n_orders) * 500_000, 2),
            "o_orderdate": pa.array(_ORDER_DAY0_US + day * _DAY_US, pa.timestamp("us")),
            "o_orderpriority": pa.array(
                np.array(_ORDER_PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)]
            ),
        },
        schema=ORDERS_SCHEMA,
    )
    path = os.path.join(sf_dir, "orders.parquet")
    _write_table(table, path)
    return path


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        size = int(rng.integers(3, 9))
        words.add("".join(rng.choice(letters, size)))
    return np.array(sorted(words), dtype=object)


def docs_batches(spec: DocsSpec, seed: int) -> tuple[list[pa.Table], list[tuple[int, int]]]:
    """Documents per batch plus the planted (original, duplicate) id
    pairs.  A duplicate is its original with one word appended; an
    original is duplicated at most once and is never itself a
    duplicate, so the planted pairs are disjoint."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, spec.vocab)
    per = spec.docs_per_batch
    n_dup_per_batch = int(round(per * spec.dup_share))
    texts: dict[int, list[str]] = {}
    batches, planted = [], []
    used_originals: set[int] = set()
    next_id = 0
    for b in range(spec.batches):
        n_fresh = per - n_dup_per_batch if b else per - n_dup_per_batch // 2
        ids, docs = [], []
        for _ in range(n_fresh):
            m = int(rng.integers(spec.min_words, spec.max_words + 1))
            toks = vocab[rng.integers(0, spec.vocab, m)].tolist()
            texts[next_id] = toks
            ids.append(next_id)
            docs.append(toks)
            next_id += 1
        # cross-batch dups need an earlier batch; batch 0 plants only
        # within-batch dups (half as many), every later batch the full mix
        n_dups = per - n_fresh
        n_cross = int(round(n_dups * spec.cross_share)) if b else 0
        fresh_here = [i for i in ids if i not in used_originals]
        earlier = [i for i in texts if i < ids[0] and i not in used_originals]
        for j in range(n_dups):
            pool = earlier if j < n_cross else fresh_here
            orig = int(pool.pop(int(rng.integers(0, len(pool)))))
            used_originals.add(orig)
            # one appended word adds one 3-gram: true Jaccard m/(m+1) >= 0.97,
            # which the default LSH banding (4 bands of 4) finds with
            # probability above 0.999, so the recall check cannot flake
            toks = [*texts[orig], str(vocab[int(rng.integers(0, spec.vocab))])]
            texts[next_id] = toks
            planted.append((orig, next_id))
            used_originals.add(next_id)
            ids.append(next_id)
            docs.append(toks)
            next_id += 1
        batches.append(
            pa.table(
                {"doc_id": pa.array(ids, pa.int64()), "text": [" ".join(t) for t in docs]},
                schema=DOCS_SCHEMA,
            )
        )
    return batches, planted


def write_docs(spec: DocsSpec, seed: int, out_dir: str) -> tuple[list[str], list[tuple[int, int]]]:
    """Write one parquet file per batch; returns (paths, planted pairs)."""
    os.makedirs(out_dir, exist_ok=True)
    batches, planted = docs_batches(spec, seed)
    paths = []
    for i, t in enumerate(batches):
        p = os.path.join(out_dir, f"docs-{i:05d}.parquet")
        _write_table(t, p)
        paths.append(p)
    stamp_past(paths)
    return paths, planted


def land(src: str, dst_dir: str) -> str:
    """Land one generated file into a stream's source directory, keeping
    its mtime: copy it under a hidden temp name (the source skips names
    starting with ".") and rename it into place, so the source never
    lists a half-written file."""
    dst = os.path.join(dst_dir, os.path.basename(src))
    tmp = os.path.join(dst_dir, "." + os.path.basename(src) + ".tmp")
    shutil.copy2(src, tmp)
    os.replace(tmp, dst)
    return dst

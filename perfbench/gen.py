"""Seeded inputs for the benchmark.

Two kinds of input, both written inside the benchmark's work directory:

* ``fixture_tables`` — the ``documents`` and ``embeddings`` parquet tables
  the dedup queries read, with the schemas, value ranges and planted
  duplicate structure of the sf0.001 fixtures.  They depend on no argument,
  so the stored result digests (``digests.json``) stay valid.
* ``render_backlog`` — k8s-event NDJSON lines in the
  shape the ``informer`` source reads (``K8S_EVENT_SCHEMA``), stamped in
  arrival order.  Files land in the spool by atomic rename, so the source
  never lists a half-written file.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.001 driver fixtures.
TABLE_ROWS = {"documents": 500, "embeddings": 500}
FIXTURE_SEED = 42

VOCAB = (
    "a agg batch big column customer data fast filter g group hash join "
    "key line merge order part query scan slow small sort spark stream "
    "table the value vector window zzz"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.15, 0.15, 0.135, 0.135]
REASONS = ["view", "click", "purchase", "signup", "error"]


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Whitespace-token documents over a 31-word vocabulary: ~5% near-dups
    (one token substituted in a >=30-token base, shingle Jaccard 0.8-0.95)
    and one exact duplicate, in a shuffled order."""
    n_near = n // 20
    n_exact = 1
    n_base = n - n_near - n_exact
    lens = rng.integers(10, 101, n_base)
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in lens]
    long_idx = np.flatnonzero(lens >= 30)
    for _ in range(n_near):
        words = texts[int(rng.choice(long_idx))].split(" ")
        p = int(rng.integers(0, len(words)))
        words[p] = rng.choice([w for w in VOCAB if w != words[p]])
        texts.append(" ".join(words))
    texts.append(texts[int(rng.integers(0, n_base))])
    return [texts[i] for i in rng.permutation(n)]


def fixture_tables() -> dict[str, pa.Table]:
    """The two tables the ``analytics_dedup`` queries read."""
    rng = np.random.Generator(np.random.PCG64(FIXTURE_SEED))
    r = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    nd = r["documents"]
    texts = _documents(rng, nd)
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(nd, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, nd, p=LANG_P),
            "source": rng.choice([f"src{i}" for i in range(20)], nd),
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    nv = r["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(nv, dtype=np.int64),
            "embedding": pa.array(
                list(vecs.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, nv).astype(np.int32),
        }
    )
    return t


def table_fingerprint(tables: dict[str, pa.Table]) -> str:
    """sha256 over the tables' Arrow IPC bytes: identifies the data a
    digest was computed on, independent of parquet writer metadata."""
    h = hashlib.sha256()
    for name in sorted(tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_fixtures(out_dir: str) -> str:
    """Write the fixture tables once per work directory; returns their
    fingerprint.  A marker file makes a finished write idempotent."""
    marker = os.path.join(out_dir, "_fingerprint")
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            return fh.read().strip()
    os.makedirs(out_dir, exist_ok=True)
    tables = fixture_tables()
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    fp = table_fingerprint(tables)
    with open(marker + ".tmp", "w", encoding="utf-8") as fh:
        fh.write(fp)
    os.replace(marker + ".tmp", marker)
    return fp


# -- k8s-event stream ------------------------------------------------------

#: Event time of the first arrival; arrivals are stamped in order from it.
STREAM_EPOCH = datetime(2024, 1, 1)
#: Users referenced by events; objects exist for uids below N_OBJECTS, so
#: about two thirds of the involved-object joins hit.
N_USERS = 150
N_OBJECTS = 100
N_NODES = 5


def event_line(uid: int, creation_ts: datetime, user: int, reason: str, k: int) -> str:
    ns = f"ns-{user % 10}"
    return json.dumps(
        {
            "uid": f"ev-{uid}",
            "creation_ts": creation_ts.isoformat(timespec="milliseconds"),
            "namespace": ns,
            "reason": reason,
            "message": '{"k": %d}' % k,
            "source_component": "driver",
            "source_host": f"host-{user % 8}",
            "ref_uid": str(user),
            "ref_name": f"obj-{user}",
            "ref_namespace": ns,
            "ref_kind": "Pod" if reason == "purchase" else "Deployment",
            "ref_api_version": "v1",
        },
        separators=(",", ":"),
    )


def publish(spool: str, name: str, lines: list[str]) -> None:
    """Write one spool file by atomic rename; names starting with '.' are
    invisible to the informer source while being written."""
    tmp = os.path.join(spool, f".{name}.tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, os.path.join(spool, name))


def render_backlog(
    spool: str,
    seed: int,
    n_events: int,
    redeliver_share: float,
    file_lines: int = 5000,
    step_ms: int = 10,
) -> int:
    """A backlog left by an outage: ``n_events`` distinct events stamped in
    arrival order ``step_ms`` apart, plus a seed-chosen ``redeliver_share``
    of them delivered again later in the spool.  All stamps fall within
    ``n_events * step_ms`` of each other, inside the one-hour dedup TTL.
    Returns the number of lines written."""
    rng = np.random.Generator(np.random.PCG64(seed))
    users = rng.integers(0, N_USERS, n_events)
    reasons = rng.choice(REASONS, n_events)
    ks = rng.integers(0, 100, n_events)
    lines = [
        event_line(i, STREAM_EPOCH + timedelta(milliseconds=i * step_ms),
                   int(users[i]), str(reasons[i]), int(ks[i]))
        for i in range(n_events)
    ]
    # Each re-delivery goes to a random later position than its original.
    again = rng.choice(n_events, int(n_events * redeliver_share), replace=False)
    late: dict[int, list[str]] = {}
    for i in again:
        pos = int(rng.integers(int(i) + 1, n_events + 1))
        late.setdefault(pos, []).append(lines[int(i)])
    merged: list[str] = []
    for pos in range(n_events + 1):
        merged.extend(late.get(pos, ()))
        if pos < n_events:
            merged.append(lines[pos])
    os.makedirs(spool, exist_ok=True)
    for f, start in enumerate(range(0, len(merged), file_lines)):
        publish(spool, f"backlog-{f:05d}.json", merged[start:start + file_lines])
    return len(merged)


def object_rows() -> list[tuple]:
    """Rows of the involved-object dimension (``K8S_OBJECT_SCHEMA``): one
    Pod in three, so the conditional pod enrichment takes both branches."""
    return [
        (
            str(i),
            "Pod" if i % 3 == 0 else "ConfigMap",
            f"obj-{i}",
            f"ns-{i % 10}",
            {"app": f"app-{i % 7}"},
            {},
            f"10.0.{i}.1",
            f"192.168.0.{i}",
            None,
            f"host-{i % 8}",
        )
        for i in range(N_OBJECTS)
    ]


def node_rows() -> list[tuple]:
    """Rows of the node dimension (``K8S_NODE_SCHEMA``); hosts 5-7 have no
    node, so the empty-address path is taken too."""
    return [(f"host-{i}", [f"node-{i}", f"10.1.0.{i}"]) for i in range(N_NODES)]

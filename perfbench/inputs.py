"""Seeded benchmark inputs.

Every table comes from the generator functions of
`tools/gen_scale_data.py`, driven by a `numpy` generator seeded with the
benchmark's `--seed`; the program under test only ever sees the files.
Inputs are cached per seed under `<checkout>/.bench_data/seed<N>/` and
made outside every timed or set-up window.
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Scale of the batch star schema: lineitem 12k rows, orders 3k,
# customers 300, events 2k. Small on purpose: one run has about ten
# seconds of timed work, and the per-query fixed cost (planning, job
# scheduling) is what this size exposes.
BATCH_SCALE = 0.002

# Stream replay: (events per round, files per round), one file per
# trigger, sized so that one round fits a run.
STREAM_SCALE = 0.002  # 50 users, 300 customers
STREAM_SHAPE = {"stream_windowed": (1800, 3), "stream_stateful": (600, 2)}


def _gen():
    root = os.getcwd()
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        import gen_scale_data
    finally:
        sys.path.pop(0)
    return gen_scale_data


def _cached(path: str, make) -> str:
    """Build `path` once: `make(tmp)` fills a temporary directory that is
    renamed into place, so an interrupted run leaves no half cache."""
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.replace(tmp, path)
    return path


def batch_tables(cache: str, seed: int) -> str:
    """All ten star-schema tables at BATCH_SCALE, in generator order."""
    g = _gen()
    s = BATCH_SCALE

    def make(d: str) -> None:
        rng = np.random.default_rng(seed)
        g.gen_documents(rng, max(int(g.BASE["documents"] * s), 500), f"{d}/documents.parquet")
        g.gen_embeddings(rng, max(int(g.BASE["embeddings"] * s), 200), f"{d}/embeddings.parquet")
        g.gen_lineitem(rng, max(int(g.BASE["lineitem"] * s), 1000), s, f"{d}/lineitem.parquet")
        g.gen_orders(rng, max(int(g.BASE["orders"] * s), 500), s, f"{d}/orders.parquet")
        g.gen_events(rng, max(int(g.BASE["events"] * s), 500), s, f"{d}/events.parquet")
        g.gen_dims(rng, s, d)

    return _cached(os.path.join(cache, f"seed{seed}", "batch"), make)


def stream_inputs(cache: str, seed: int, workload: str) -> tuple[str, list[str]]:
    """(dimension-table dir, replay files). Events keep the generator's
    sort by time; file k holds the k-th contiguous time slice, so a
    replay in file order never delivers an event behind the watermark.
    Columns: event_id, user_id, event_type, value, t_ms (epoch ms), and
    delta = +value for views, -value otherwise (a walk that often hits
    the running balance's floor)."""
    g = _gen()
    s = STREAM_SCALE
    n, n_files = STREAM_SHAPE[workload]

    def make(d: str) -> None:
        rng = np.random.default_rng(seed)
        g.gen_dims(rng, s, d)
        raw = os.path.join(d, "events_raw.parquet")
        g.gen_events(rng, n, s, raw)
        ev = pq.read_table(raw)
        os.remove(raw)
        t_ms = pc.divide(ev["ts"].cast(pa.int64()), 1_000_000)
        value = ev["value"]
        ev = pa.table({
            "event_id": ev["event_id"],
            "user_id": ev["user_id"],
            "event_type": ev["event_type"],
            "value": value,
            "t_ms": t_ms,
            "delta": pc.if_else(pc.equal(ev["event_type"], "view"), value, pc.negate(value)),
        })
        os.makedirs(os.path.join(d, "files"))
        step = -(-n // n_files)
        for k in range(n_files):
            path = os.path.join(d, "files", f"part-{k:03d}.parquet")
            pq.write_table(ev.slice(k * step, step), path)

    d = _cached(os.path.join(cache, f"seed{seed}", workload), make)
    files = sorted(os.path.join(d, "files", f) for f in os.listdir(os.path.join(d, "files")))
    return d, files

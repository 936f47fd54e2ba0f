"""Seeded inputs.  Every input is a pure function of the test-data
directory and ``--seed``; it is built once per (scale, workload, seed) into
``.perfbench_work/inputs`` (outside the timed set-up) and described by a
manifest whose hash the run records.

- ``soc_pipeline``: the ``events`` table amplified ``AMPLIFY`` times — each
  copy gets its own event ids, its own users (same customer, because the
  user offset is a multiple of the 5 customers) and a seeded time shift
  that wraps inside the data month — plus the analyst's search sequence
  and the scheduled ETL window; and a pool of raw QRadar-shaped records
  drawn from the test data's ``qevents`` derivation (rendered by the
  program's own ``qevents_sql`` in DuckDB), cut into the live feed's
  batches and the backfill backlog.
- ``corpus_retrieval``: a seeded held split of ``documents`` /
  ``embeddings`` (the served corpus), the delivery (held-out documents
  plus near-duplicate re-crawls), the takedown ids and the request mix.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

#: copies of the events table the analyst searches
AMPLIFY = 2
#: id offsets between copies; multiples of 5 keep each user's customer
EVENT_STRIDE = 10_000_000
USER_STRIDE = 1_000_000

MONTH_START = dt.datetime(2024, 1, 1)
MONTH_DAYS = 30
CUSTOMERS = [f"customer_{i}" for i in range(5)]
#: search window lengths in hours: 1 hour to 30 days
WINDOW_HOURS = [1, 6, 24, 7 * 24, 30 * 24]

#: live feed: one batch file every PERIOD_S seconds of BATCH events
LIVE_PERIOD_S = 0.2
LIVE_BATCH = 100
LATE_SHARE = 0.1
#: backfill backlog
BACKFILL_FILES = 12
BACKFILL_BATCH = 1000
#: run clock anchor for the live feed's event times (epoch ms)
FEED_EPOCH_MS = int(dt.datetime(2024, 2, 1, 0, 0, tzinfo=dt.timezone.utc).timestamp() * 1000)

#: corpus split
HELD_SHARE = 0.8
DELIVERY_NEW = 150
DELIVERY_RECRAWLS = 40
DELIVERY_IN_BATCH_DUPS = 10
TAKEDOWN_DOCS = 60
#: query ids that are never delivered or taken down (the IVF-PQ serve
#: queries vec_id < 3)
PINNED_IDS = (0, 1, 2)
#: searches / requests generated; a run uses the prefix it needs
SEQUENCE_LEN = 440


def _mix(x: int, seed: int) -> int:
    """splitmix64 of (x, seed): a per-id coin that does not depend on the
    order rows are read in."""
    z = (x * 0x9E3779B97F4A7C15 + seed * 0xBF58476D1CE4E5B9 + 0x94D049BB133111EB) & (
        2**64 - 1
    )
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & (2**64 - 1)
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & (2**64 - 1)
    return z ^ (z >> 31)


def _file_sha(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _table_sha(table) -> str:
    """Content hash of an Arrow table (IPC bytes; independent of the
    parquet writer's metadata)."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


class Inputs:
    """A built input set: its directory, its manifest and the manifest hash."""

    def __init__(self, directory: str, manifest: dict) -> None:
        self.dir = directory
        self.manifest = manifest
        self.hash = hashlib.sha256(
            json.dumps(manifest, sort_keys=True).encode()
        ).hexdigest()[:16]

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def load(self, name: str):
        with open(self.path(name)) as f:
            return json.load(f)


def build(cache_root: str, data_dir: str, workload: str, seed: int) -> Inputs:
    """Build (or reuse) the inputs of ``workload`` for ``seed``."""
    sf = os.path.basename(os.path.normpath(data_dir))
    out = os.path.join(cache_root, sf, f"{workload}-seed{seed}")
    mpath = os.path.join(out, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as f:
            return Inputs(out, json.load(f))
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    sources = {
        name: _file_sha(os.path.join(data_dir, f"{name}.parquet"))
        for name in _SOURCES[workload]
    }
    made = _BUILDERS[workload](data_dir, tmp, seed)
    manifest = {"workload": workload, "seed": seed, "scale": sf,
                "sources": sources, "made": made}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    try:
        os.rename(tmp, out)
    except OSError:  # another run built it first
        import shutil

        shutil.rmtree(tmp, ignore_errors=True)
    return build(cache_root, data_dir, workload, seed)


def _dump(out: str, name: str, obj) -> str:
    text = json.dumps(obj, sort_keys=True)
    with open(os.path.join(out, name), "w") as f:
        f.write(text)
    return hashlib.sha256(text.encode()).hexdigest()


# -- soc_pipeline: the analyst and the scheduler ------------------------------


def _soc_searches(data_dir: str, out: str, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    src = pq.read_table(os.path.join(data_dir, "events.parquet"))
    rng = random.Random(seed)
    base_us = int(MONTH_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    span_us = MONTH_DAYS * 86400 * 10**6
    ts_us = pc.cast(src["ts"], pa.int64()).to_numpy()
    copies = []
    for i in range(AMPLIFY):
        shift = rng.randrange(span_us // 10**6) * 10**6
        wrapped = base_us + (ts_us + shift - base_us) % span_us
        t = src.set_column(
            src.schema.get_field_index("event_id"), "event_id",
            pc.add(src["event_id"], i * EVENT_STRIDE),
        )
        t = t.set_column(
            t.schema.get_field_index("user_id"), "user_id",
            pc.add(t["user_id"], i * USER_STRIDE),
        )
        t = t.set_column(
            t.schema.get_field_index("ts"), "ts",
            pa.array(wrapped, pa.int64()).cast(pa.timestamp("us")),
        )
        copies.append(t)
    events = pa.concat_tables(copies)
    pq.write_table(events, os.path.join(out, "events.parquet"))

    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import AQL_CORPUS

    # blocks of the 11 searches in a seeded order.  Within a block the
    # GLOBALVIEW searches and the raw-event searches each get a fixed
    # multiset of window lengths and modes, dealt in seeded order: every
    # block has the same mix of cheap and costly searches, so the median
    # does not move with the draws a seed happens to make
    from qradar_restapi_kafka_datapipeline_spark.aql_corpus import GLOBALVIEW_QUERIES

    names = sorted(AQL_CORPUS)
    last = MONTH_START + dt.timedelta(days=MONTH_DAYS)
    searches = []
    while len(searches) < SEQUENCE_LEN:
        block = list(names)
        rng.shuffle(block)
        deals = {}
        for group in (True, False):
            members = [n for n in block if (n in GLOBALVIEW_QUERIES) == group]
            # the two raw-event searches: one month-wide (scan bound), one
            # narrow (fixed-cost bound)
            hours = ([WINDOW_HOURS[k % len(WINDOW_HOURS)] for k in range(len(members))]
                     if group else [WINDOW_HOURS[-1], WINDOW_HOURS[0]])
            modes = (["auto_route", "bound"] * len(members))[: len(members)]
            rng.shuffle(hours)
            rng.shuffle(modes)
            deals.update(zip(members, zip(hours, modes)))
        for name in block:
            hours, mode = deals[name]
            start = MONTH_START + dt.timedelta(
                hours=rng.randrange(MONTH_DAYS * 24 - hours + 1)
            )
            stop = min(start + dt.timedelta(hours=hours), last)
            searches.append(
                {
                    "query": name,
                    "customer": rng.choice(CUSTOMERS),
                    "start": start.strftime("%Y-%m-%d %H:%M:%S"),
                    "stop": stop.strftime("%Y-%m-%d %H:%M:%S"),
                    "mode": mode,
                }
            )
    # the scheduler's weekly ETL window for one customer (the reference's
    # per customer work item)
    first_day = rng.randrange(0, MONTH_DAYS - 7 + 1)
    day = lambda d: (MONTH_START + dt.timedelta(days=d)).strftime("%Y-%m-%d %H:%M:%S")  # noqa: E731
    etl = {"customer": rng.choice(CUSTOMERS), "window": [day(first_day), day(first_day + 7)]}
    return {
        "events.parquet": _table_sha(events),
        "searches.json": _dump(out, "searches.json", searches),
        "etl.json": _dump(out, "etl.json", etl),
    }


# -- soc_pipeline: the Kafka feed ---------------------------------------------

_RAW_COLS = (
    "'customer_' || CAST(domainId AS VARCHAR) AS domainName, domainId, "
    "eventCount, sourceip AS sourceIP, destinationip AS destinationIP, "
    "sourcePort, destinationPort, qid, category, highlevelcategory, devicetype, "
    "logSourceId, userName, magnitude"
)
#: records in the pool the feed draws from
POOL_SIZE = 5_000
#: live batches generated; a run uses the prefix its length needs
LIVE_BATCHES_MAX = 150


def _soc_feed(data_dir: str, out: str, seed: int) -> dict:
    """Pool records keep the test data's value distribution; the feed file
    stores (pool index, event time ms) pairs per batch."""
    import duckdb

    from common import duck_view
    from qradar_restapi_kafka_datapipeline_spark.sources.qevents import qevents_sql

    con = duckdb.connect()
    try:
        con.execute(duck_view("events", os.path.join(data_dir, "events.parquet")))
        cur = con.execute(
            f"SELECT {_RAW_COLS} FROM ({qevents_sql('duckdb')}) "
            f"ORDER BY hash(event_id, {int(seed)}), event_id LIMIT {POOL_SIZE}"
        )
        cols = [d[0] for d in cur.description]
        pool = [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        con.close()
    rng = random.Random(seed)
    k = 0
    live = []
    for b in range(LIVE_BATCHES_MAX):
        batch = []
        for j in range(LIVE_BATCH):
            ms = FEED_EPOCH_MS + int(b * LIVE_PERIOD_S * 1000) + j
            if rng.random() < LATE_SHARE:
                ms -= rng.randrange(3600, 30 * 3600) * 1000
            batch.append([k % len(pool), ms])
            k += 1
        live.append(batch)
    warmup = [[k % len(pool), FEED_EPOCH_MS - 3600 * 1000 + j] for j in range(LIVE_BATCH)]
    k += LIVE_BATCH
    backfill = [
        [[(k + b * BACKFILL_BATCH + j) % len(pool),
          FEED_EPOCH_MS - rng.randrange(3 * 86400) * 1000]
         for j in range(BACKFILL_BATCH)]
        for b in range(BACKFILL_FILES)
    ]
    return {
        "pool.json": _dump(out, "pool.json", pool),
        "live.json": _dump(out, "live.json", live),
        "warmup.json": _dump(out, "warmup.json", warmup),
        "backfill.json": _dump(out, "backfill.json", backfill),
    }


def feed_records(pool: list[dict], batch: list[list[int]]) -> list[dict]:
    """Materialize one feed batch as raw-event records."""
    return [{**pool[i], "startTime": ms} for i, ms in batch]


# -- corpus_retrieval ------------------------------------------------------------


def _corpus_retrieval(data_dir: str, out: str, seed: int) -> dict:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"))
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"))

    def held_mask(ids) -> list[bool]:
        return [
            i in PINNED_IDS or (_mix(i, seed) % 1000) < HELD_SHARE * 1000
            for i in ids.to_pylist()
        ]

    dmask = pa.array(held_mask(docs["doc_id"]))
    emask = pa.array(held_mask(emb["vec_id"]))
    held_docs = docs.filter(dmask)
    held_emb = emb.filter(emask)
    out_docs = docs.filter(pc.invert(dmask))
    out_emb = emb.filter(pc.invert(emask))

    rng = random.Random(seed)
    new_rows = out_docs.to_pylist()
    rng.shuffle(new_rows)
    new_rows = new_rows[:DELIVERY_NEW]
    held_rows = held_docs.to_pylist()
    next_id = 10_000_000
    recrawls = []
    for r in rng.sample(held_rows, DELIVERY_RECRAWLS):
        text = r["text"] + " " + rng.choice(["updated", "revised", "mirror", "copy"])
        recrawls.append({**r, "doc_id": next_id, "text": text, "n_chars": len(text)})
        next_id += 1
    in_batch = []
    for r in rng.sample(new_rows, DELIVERY_IN_BATCH_DUPS):
        in_batch.append({**r, "doc_id": next_id})
        next_id += 1
    delivery = new_rows + recrawls + in_batch
    rng.shuffle(delivery)
    delivery_tbl = pa.Table.from_pylist(delivery, schema=docs.schema)
    delivery_ids = {r["doc_id"] for r in new_rows}
    delivery_emb = out_emb.filter(
        pa.array([i in delivery_ids for i in out_emb["vec_id"].to_pylist()])
    )

    candidates = sorted(
        i for i in held_docs["doc_id"].to_pylist() if i not in PINNED_IDS
    )
    takedown = sorted(rng.sample(candidates, TAKEDOWN_DOCS))
    gone = set(takedown)
    query_docs = [i for i in candidates if i not in gone]
    # blocks of 2 text, 2 hybrid and 2 IVF-PQ requests in a seeded order (an
    # exact mix in every block); every other request queries a pinned
    # document, whose result the run checks against the registry's oracle
    requests = []
    while len(requests) < SEQUENCE_LEN:
        block = ["text", "hybrid", "ivfpq"] * 2
        rng.shuffle(block)
        for kind in block:
            i = len(requests)
            doc = PINNED_IDS[i // 2 % len(PINNED_IDS)] if i % 2 == 0 else rng.choice(query_docs)
            requests.append({"kind": kind, "doc": doc})
    made = {}
    for name, tbl in (
        ("documents.parquet", held_docs),
        ("embeddings.parquet", held_emb),
        ("delivery_documents.parquet", delivery_tbl),
        ("delivery_embeddings.parquet", delivery_emb),
    ):
        pq.write_table(tbl, os.path.join(out, name))
        made[name] = _table_sha(tbl)
    made["takedown.json"] = _dump(out, "takedown.json", takedown)
    made["requests.json"] = _dump(out, "requests.json", requests)
    return made


def _soc_pipeline(data_dir: str, out: str, seed: int) -> dict:
    return {**_soc_searches(data_dir, out, seed), **_soc_feed(data_dir, out, seed)}


_BUILDERS = {
    "soc_pipeline": _soc_pipeline,
    "corpus_retrieval": _corpus_retrieval,
}
_SOURCES = {
    "soc_pipeline": ("events",),
    "corpus_retrieval": ("documents", "embeddings"),
}

"""Seeded input generator for the benchmark.

Two kinds of input:

* **Base tables** (``write_tables``): the ten synthetic tables the query
  registry reads (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), with the row counts and value domains of the
  ``sf0.001``/``sf0.1`` test tables. They come from the fixed
  ``TABLE_SEED`` so that every run queries the same tables and the
  recorded row counts in ``expected.json`` hold; they are written once per
  checkout and reused.
* **Per-run inputs** (everything else here): capture files, the request
  queue and the stream arrival split. These are drawn from
  the ``--seed`` of the run, so the same seed always gives the same inputs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

TABLE_SEED = 42
GENERATOR_VERSION = 1

#: Row counts per scale, as in the sf0.001 / sf0.1 test tables.
SIZES = {
    "0.001": dict(customer=150, supplier=10, part=200, orders=1500,
                  lineitem=6000, events=1000, users=15, documents=500,
                  embeddings=500),
    "0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                lineitem=600000, events=100000, users=1500, documents=5000,
                embeddings=2000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = sorted(
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window".split()
)
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMBED_DIM = 64

_DAY_S = 86400
_EPOCH_1995 = 788918400  # 1995-01-01T00:00:00Z
_EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    """Whole-day timestamps (as datetime64[ms]) uniform in [lo, hi] days
    after 1995-01-01."""
    d = rng.integers(lo_day, hi_day + 1, n)
    return ((_EPOCH_1995 + d * _DAY_S) * 1000).astype("datetime64[ms]")


def _documents(rng, n):
    """Bag-of-words texts over the 30-word vocabulary, 10..100 words; 5%
    are near-duplicates of an earlier text with its last word replaced by
    ``dup`` and a few of those repeat exactly, as in the test tables."""
    vocab = np.array(VOCAB)
    texts = [" ".join(rng.choice(vocab, size=k))
             for k in rng.integers(10, 101, n)]
    near = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in sorted(near):
        words = texts[int(rng.integers(0, i))].split()
        words[-1] = "dup"
        texts[i] = " ".join(words)
    near = sorted(near)
    for i in near[len(near) // 2:][: max(1, n // 600)]:
        texts[i] = texts[near[int(rng.integers(0, len(near) // 2))]]
    return texts


def build_tables(sf: str, seed: int = TABLE_SEED) -> dict:
    """Column dicts (numpy / lists) for every table at scale ``sf``."""
    import pyarrow as pa

    n = SIZES[sf]
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    }
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    t["part"] = {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                                rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, 0, 2404, no),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    }
    nl = n["lineitem"]
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _days(rng, 1, 2499, nl),
    }
    ne = n["events"]
    ts_us = np.sort(rng.integers(0, 30 * _DAY_S * 10**6, ne)) + _EPOCH_2024 * 10**6
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, n["users"], ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 560.0), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = _documents(rng, nd)
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P).tolist(),
        "source": [f"src{k % 20}" for k in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    return t


def write_tables(out_dir: str, sf: str) -> str:
    """Write the base tables for ``sf`` under ``out_dir`` unless a complete
    copy from this generator version is already there; returns the table
    directory. The copy is built beside the target and renamed into place,
    so an interrupted write never leaves a half-filled directory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    target = os.path.join(out_dir, f"sf{sf}")
    stamp = {"seed": TABLE_SEED, "version": GENERATOR_VERSION, "sf": sf}
    marker = os.path.join(target, "_GENERATED.json")
    if os.path.isfile(marker):
        with open(marker) as fh:
            if json.load(fh) == stamp:
                return target
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in build_tables(sf).items():
        pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))
    with open(os.path.join(tmp, "_GENERATED.json"), "w") as fh:
        json.dump(stamp, fh)
    shutil.rmtree(target, ignore_errors=True)
    os.rename(tmp, target)
    return target


# --------------------------------------------------------------------------
# per-run inputs, all drawn from the run's seed
# --------------------------------------------------------------------------

SESSIONS = (126, 127, 128)
#: Clients per session, within the reference's 2-6. They are fixed rather
#: drawn, because a request's cost follows its session's rows per client
#: (``user_energy`` returns one client's position rows): drawn counts made
#: the served rows per run differ by 70% between seeds.
CLIENTS = {126: 3, 127: 4, 128: 5}
FUNCTIONS = ("aggregate_interaction_type", "aggregate_user", "user_energy")


def arrival_split(seed: int, n_rows: int, n_files: int) -> np.ndarray:
    """Seeded assignment of rows to ``n_files`` arrival files of equal
    size (row i goes to file ``out[i]``)."""
    rng = np.random.default_rng([seed, 2])
    return rng.permutation(np.arange(n_rows) % n_files)


#: One capture at full size is the reference corpus: 37,650 rows over
#: about 206 s (FIXTURES.md §A1 counts 37,650 distinct ts in it; here the
#: clients of a session share each tick, so there are rows / clients).
REF_CAPTURE_ROWS = 37_650
REF_CAPTURE_MS = 206_000


class CaptureGen:
    """Capture files shaped like the reference's (FIXTURES.md §A): per
    capture a JSON array of ``data`` records from the ``CLIENTS`` of one
    session, ``sync`` position messages at one tick for all clients (one
    entity per client per tick, so ts is strictly increasing within a
    client stream), plus ``interaction`` and ``draw`` messages, some draws
    without stroke fields. A capture of ``rows`` rows lasts
    ``REF_CAPTURE_MS``; at full size the tick is 16-27 ms for 3-5 clients.
    ``seq`` grows across captures of a session, so the reference window
    ``ORDER BY seq`` is a total order over the whole data table."""

    def __init__(self, seed: int, rows_per_capture: int):
        self.rng = np.random.default_rng([seed, 3])
        self.rows = rows_per_capture
        self.clock = 1_630_443_513_898
        self.seq = {s: 0 for s in SESSIONS}
        self.clients = {s: list(range(1, 1 + n)) for s, n in CLIENTS.items()}

    def capture(self, session: int) -> tuple[dict, list[dict]]:
        rng = self.rng
        start = self.clock
        self.clock += 600_000
        cid = f"{session}_{start}"
        clients = self.clients[session]
        step = max(1, round(REF_CAPTURE_MS * len(clients) / self.rows))
        pos = {c: rng.uniform(-1.0, 1.0, 3) for c in clients}
        recs = []
        tick = 0
        while len(recs) < self.rows:
            ts = start + step * tick
            tick += 1
            for c in clients:
                pos[c] = pos[c] + rng.normal(0.0, 0.02, 3)
                self.seq[session] += 1
                kind = rng.random()
                if kind < 0.8:
                    typ = "sync"
                    msg = {"clientId": c, "entityType": int(rng.integers(0, 4)),
                           "pos": {"x": round(float(pos[c][0]), 6),
                                   "y": round(float(pos[c][1]), 6),
                                   "z": round(float(pos[c][2]), 6)}}
                elif kind < 0.9:
                    typ = "interaction"
                    msg = {"clientId": c,
                           "interactionType": int(rng.integers(0, 6)),
                           "sourceEntityId": int(rng.integers(0, 50)),
                           "targetEntityId": int(rng.integers(0, 50))}
                else:
                    typ = "draw"
                    msg = {"clientId": c}
                    if rng.random() < 0.8:
                        msg["strokeId"] = int(rng.integers(0, 200))
                        msg["strokeType"] = int(rng.integers(0, 4))
                recs.append({"capture_id": cid, "session_id": session,
                             "client_id": c, "type": typ, "ts": int(ts),
                             "seq": self.seq[session],
                             "message": json.dumps(msg)})
        end = start + step * tick
        row = {"capture_id": cid, "session_id": session, "start": start,
               "end": end, "processed": None}
        return row, recs

    def in_progress(self, session: int) -> dict:
        """A capture still recording (``end`` NULL): never ingested."""
        start = self.clock + 10_000_000
        return {"capture_id": f"{session}_{start}", "session_id": session,
                "start": start, "end": None, "processed": None}


#: The parameters each dispatch function checks for JSON ``null`` before
#: it serves a request (FIXTURES.md §A3).
CHECKED = {"aggregate_interaction_type": ("sessionId", "interactionType"),
           "aggregate_user": ("clientId", "sessionId"),
           "user_energy": ("entityType", "clientId")}


def request_queue(seed: int, round_no: int, n: int, first_id: int,
                  sessions: list[int], clients: dict[int, list[int]]) -> list[dict]:
    """``n`` queued ``data_requests`` rows (n >= 7) about ``sessions``. The
    three dispatch functions take turns, and each function's requests
    take ``sessions`` in turn. As FIXTURES.md §A3 asks, the queue holds one
    row with an unknown function name (the last) and, for each function,
    one row with a JSON ``null`` in a parameter it checks (three rows in
    the middle of the queue). So every seed gives the queue the same shape
    and about the same cost; the seed draws the client of the session, the
    interaction and entity types and which checked parameter is null."""
    rng = np.random.default_rng([seed, 4, round_no])
    mid = n // 2 // 3 * 3
    null_at = range(mid, mid + 3)
    rows = []
    for i in range(n):
        fn = "aggregate_everything" if i == n - 1 else FUNCTIONS[i % 3]
        s = sessions[(i // 3) % len(sessions)]
        msg = {"sessionId": s, "clientId": int(rng.choice(clients[s])),
               "captureId": 777, "type": "t",
               "interactionType": int(rng.integers(0, 6)),
               "entityType": int(rng.integers(0, 4))}
        if i in null_at:
            msg[str(rng.choice(CHECKED[fn]))] = None
        rows.append({"request_id": first_id + i,
                     "processed_capture_id": "666_9999999999999",
                     "who_requested": 1, "aggregation_function": fn,
                     "is_it_fulfilled": 0, "url": None,
                     "message": json.dumps(msg), "file_location": None})
    return rows

"""Workload ``serve_loop``: the reference daemon loop on seeded captures.

Each round plays the relay (new capture files and their ``captures`` rows
land), then runs the engine's loop body: ingest the ready captures with
``KomodoEngine.ingest_captures``, stamp them with
``sources.control.mark_processed``, read the ``data`` table again and serve
a queue of requests through ``KomodoEngine.serve_requests`` to CSV. One
client, closed loop: the next step starts when the previous one returns.

A request's latency runs from the queue's submission to its
``on_fulfilled`` callback, so it includes the wait behind earlier requests.
Every CSV is recomputed with DuckDB over the generated capture rows.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import datagen
from harness import dir_stats, job_seconds, median, percentile, wrap_everywhere

#: Rows per capture file and requests per round. A round lands one capture
#: of the reference corpus's size (``datagen.REF_CAPTURE_ROWS``), so the
#: ``data`` table grows by one reference capture per round. The small sizes
#: serve the self-check on the ``sf0.001`` tables.
ROWS_PER_CAPTURE = {"0.1": datagen.REF_CAPTURE_ROWS, "0.001": 300}
REQUESTS_PER_ROUND = {"0.1": 12, "0.001": 8}
#: Untimed rounds first: after one, the first timed round was still about
#: a fifth slower than the next two while the JVM compiled the request
#: paths; after two, the timed rounds are level.
WARM_ROUNDS = 2
#: Nominal seconds per round on a 4-core host; ``--seconds`` buys
#: ``seconds / ROUND_S`` timed rounds, the same on every commit. The
#: default 30 seconds time 3 rounds and 36 requests, and the data table
#: grows to 5 captures, 188,250 rows.
ROUND_S = 10.0
MIN_ROUNDS = 2


class ServeLoop:
    name = "serve_loop"

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.captures_dir = os.path.join(w, "captures")
        self.captures_path = os.path.join(w, "ctl_captures")
        self.data_path = os.path.join(w, "data")
        self.out_dir = os.path.join(w, "csv")
        self.rounds = max(MIN_ROUNDS, round(ctx.seconds / ROUND_S))
        self.queue_len = REQUESTS_PER_ROUND[ctx.sf]
        self.gen = datagen.CaptureGen(ctx.seed, ROWS_PER_CAPTURE[ctx.sf])
        self.capture_rows: list[dict] = []  # with the round they landed in
        self.ctl_rows: list[dict] = []
        self.requests: list[tuple[int, dict]] = []
        self.fulfilled: dict[int, str] = {}
        self.latencies: list[float] = []
        self.round_s: list[float] = []
        self.ops: list[tuple[str, float]] = []  # (round, seconds)
        self.ingest_s = 0.0
        self.ingested_rows = 0
        self.json_bytes = 0
        self.failed = 0
        self.attempted = 0
        self.layer: dict[str, float] = {}

    # -- set-up -------------------------------------------------------------
    def setup(self, spark) -> None:
        from komodo_data_spark.engine import KomodoEngine

        self.engine = KomodoEngine(spark)

    def prepare(self) -> None:
        """The ``WARM_ROUNDS`` untimed rounds: full rounds on the same
        tables, so the timed rounds find the code paths compiled. Their
        captures stay in the table and their requests are checked like the
        others."""
        for r in range(WARM_ROUNDS):
            self._round(r, timed=False)

    # -- the loop -------------------------------------------------------------
    def run(self) -> None:
        tr = self.ctx.tracer
        if tr.enabled:
            self._instrument()
        for r in range(WARM_ROUNDS, WARM_ROUNDS + self.rounds):
            self._round(r, timed=True)

    def _land_capture(self, round_no: int) -> None:
        """The relay's side: one finished capture of the next session in
        turn, as a file on disk and a control row, and the control row of
        one still recording."""
        from komodo_data_spark.schemas import CAPTURES_SCHEMA
        from komodo_data_spark.sources import control

        spark = self.ctx.spark
        session = datagen.SESSIONS[round_no % len(datagen.SESSIONS)]
        row, recs = self.gen.capture(session)
        path = os.path.join(self.captures_dir, *row["capture_id"].split("_", 1),
                            "data")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(recs, fh)
        self.json_bytes += os.path.getsize(path)
        self.ctl_rows.append(row)
        self.capture_rows.extend(dict(r, round=round_no) for r in recs)
        pending = self.gen.in_progress(session)
        control.init_table(
            spark.createDataFrame(self.ctl_rows + [pending], CAPTURES_SCHEMA),
            self.captures_path,
        )

    def _round(self, round_no: int, timed: bool) -> None:
        from komodo_data_spark.schemas import DATA_REQUESTS_SCHEMA
        from komodo_data_spark.sources import control

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        self._land_capture(round_no)
        sessions = sorted({r["session_id"] for r in self.ctl_rows})
        queue = datagen.request_queue(ctx.seed, round_no, self.queue_len,
                                      len(self.requests) + 1, sessions,
                                      self.gen.clients)
        requests = spark.createDataFrame(queue, DATA_REQUESTS_SCHEMA)
        n_rows = sum(1 for r in self.capture_rows if r["round"] == round_no)

        t0 = time.perf_counter()
        tr.op = f"round{round_no}"
        ctx.group(f"round{round_no}.ingest")
        with tr.span("capture.ingest_round"):
            ctl = control.current_view(spark, self.captures_path, "capture_id")
            results = self.engine.ingest_captures(ctl, self.captures_dir,
                                                  self.data_path)
            control.mark_processed(spark, self.captures_path, results)
        t1 = time.perf_counter()
        with tr.span("tables.read_data"):
            data = spark.read.parquet(self.data_path)
        sent = time.perf_counter()
        done: dict[int, float] = {}
        k = [0]

        def on_fulfilled(rid, path):
            done[rid] = time.perf_counter() - sent
            self.fulfilled[rid] = path
            k[0] += 1
            ctx.group(f"round{round_no}.req{k[0]}")

        ctx.group(f"round{round_no}.req0")
        with tr.span("dispatch.serve_queue"):
            self.engine.serve_requests(requests, data, self.out_dir,
                                       on_fulfilled=on_fulfilled,
                                       deterministic_names=True)
        t2 = time.perf_counter()
        self.requests.extend((round_no, q) for q in queue)
        self.attempted += len(queue) + 1  # the requests and the capture
        self.failed += sum(1 for _cid, ok, _ in results if not ok)
        if not timed:
            return
        self.round_s.append(t2 - t0)
        self.ops.append((f"round{round_no}", t2 - t0))
        t = sorted(done.values())
        self.ops.extend(("request", b - a) for a, b in zip([0.0] + t, t))
        self.ingest_s += t1 - t0
        self.ingested_rows += n_rows
        self.latencies.extend(done.values())
        if tr.enabled:
            self._collect_round(round_no, k[0], done)

    # -- tracing ----------------------------------------------------------------
    def _instrument(self) -> None:
        from komodo_data_spark.operators import analytics
        from komodo_data_spark.sources import capture, control
        from komodo_data_spark.streaming import dispatch

        tr = self.ctx.tracer
        wrap_everywhere(tr, capture.ingest_ready_captures, "capture.ingest")
        wrap_everywhere(tr, control.current_view, "control.current_view")
        wrap_everywhere(tr, control.mark_processed, "control.mark")
        for fn in ("aggregate_interaction_type", "aggregate_user", "user_energy"):
            wrap_everywhere(tr, getattr(analytics, fn), "analytics.build")

        def csv_size(rec, _args, path):
            rec["bytes"] = os.path.getsize(path)

        wrap_everywhere(tr, dispatch.export_csv, "export.csv", on_exit=csv_size)
        self.layer = {"control.log_files": 0.0, "capture.files_written": 0.0,
                      "capture.bytes_written": 0.0, "dispatch.jobs": 0.0,
                      "dispatch.requests": 0.0, "analytics.input_bytes": 0.0,
                      "analytics.table_bytes": 0.0, "dispatch.pending_s": 0.0,
                      "action.stages": 0.0, "action.tasks": 0.0}
        self.jobs: list[dict] = []
        self.gaps: list[float] = []

    def _collect_round(self, round_no, n_done, done) -> None:
        ctx, tr = self.ctx, self.ctx.tracer
        with tr.overhead():
            files, size = dir_stats(self.data_path, ".parquet")
            self.layer["capture.files_written"] = files
            self.layer["capture.bytes_written"] = size
            self.layer["control.log_files"] = dir_stats(
                os.path.join(self.captures_path, "_status_log"), ".parquet")[0]
            groups = [f"round{round_no}.req{i}" for i in range(n_done + 1)]
            jobs = ctx.counters.settle(groups)
            m = ctx.counters.job_metrics(jobs)
            ctx.add_stage_metrics(m)
            self.jobs.extend(jobs)
            self.layer["dispatch.jobs"] += len(jobs)
            self.layer["action.stages"] += m["stages"]
            self.layer["action.tasks"] += m["tasks"]
            self.layer["dispatch.requests"] += n_done
            self.layer["analytics.input_bytes"] += m["input_bytes"]
            self.layer["analytics.table_bytes"] += size * n_done
            jobs = ctx.counters.settle([f"round{round_no}.ingest"])
            ctx.add_stage_metrics(ctx.counters.job_metrics(jobs))
            self.jobs.extend(jobs)
            t = sorted(done.values())
            self.gaps.extend(b - a for a, b in zip([0.0] + t, t))
            # queue scan: from the serve call to the first request's build
            serve = [s for s in tr.spans if s["name"] == "dispatch.serve_queue"
                     and s["op"] == f"round{round_no}"][0]
            first_build = min((s["start"] for s in tr.spans
                               if s["name"] == "analytics.build"
                               and s["start"] >= serve["start"]),
                              default=serve["end"])
            self.layer["dispatch.pending_s"] += first_build - serve["start"]

    # -- results ----------------------------------------------------------------
    def check(self) -> None:
        """DuckDB recomputation of every expected CSV; a request served
        that should not be, or not served that should, fails too."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        con.register("rows_df", pd.DataFrame(self.capture_rows))
        con.execute("CREATE TABLE data_rows AS SELECT * FROM rows_df")
        for round_no, q in self.requests:
            rid = q["request_id"]
            want = expected_csv(con, round_no, q)
            got = self.fulfilled.get(rid)
            if want is None:
                ok = got is None
            else:
                ok = got is not None and _same_rows(pd.read_csv(got), want)
            if not ok:
                print(f"serve_loop: request {rid} {q['aggregation_function']} "
                      f"{q['message']} served={got is not None} "
                      f"expected={want is not None}", file=sys.stderr)
                if got is not None and want is not None:
                    g, w = _rows(pd.read_csv(got)), _rows(want)
                    diff = [(a, b) for a, b in zip(g, w) if a != b]
                    print(f"  {len(g)} rows in the CSV, {len(w)} expected; "
                          f"first differences: {diff[:3]}", file=sys.stderr)
            self.failed += not ok
        n_data = self.ctx.spark.read.parquet(self.data_path).count()
        self.failed += n_data != len(self.capture_rows)
        con.close()

    def metrics(self) -> dict:
        return {
            "op_s_p50": median(self.latencies),
            "op_s_p90": percentile(self.latencies, 90),
            "pass_s": median(self.round_s),
            "rows_per_s": self.ingested_rows / self.ingest_s,
        }

    def layer_metrics(self) -> dict:
        tr, L = self.ctx.tracer, self.layer
        ingest = tr.total("capture.ingest")
        n_req = max(1.0, L["dispatch.requests"])
        n_schema, schema_s = job_seconds(self.jobs, "parquet at")
        return {
            "tables.schema_jobs": n_schema,
            "tables.schema_job_s": schema_s,
            "action.jobs": L["dispatch.jobs"],
            "action.stages": L["action.stages"],
            "action.tasks": L["action.tasks"],
            "capture.ingest_s": ingest,
            "capture.files_written": L["capture.files_written"],
            "capture.bytes_written": L["capture.bytes_written"],
            "capture.write_amp": L["capture.bytes_written"] / max(1, self.json_bytes),
            "control.mark_s": tr.total("control.mark"),
            "control.log_files": L["control.log_files"],
            "dispatch.pending_s": L["dispatch.pending_s"],
            "dispatch.service_s_p50": median(self.gaps),
            "dispatch.jobs_per_request": L["dispatch.jobs"] / n_req,
            "analytics.scan_frac": L["analytics.input_bytes"]
            / max(1.0, L["analytics.table_bytes"]),
            "export.csv_bytes": sum(s.get("bytes", 0) for s in tr.spans
                                    if s["name"] == "export.csv"),
        }


# --------------------------------------------------------------------------
# DuckDB twins of the three dispatch functions
# --------------------------------------------------------------------------

_DECODE = ("CASE e WHEN '0' THEN 'head' WHEN '1' THEN 'left_hand' "
           "WHEN '2' THEN 'right_hand' WHEN '3' THEN 'spawned_entity' ELSE e END")


def _param(msg: dict, key: str):
    return msg.get(key, "absent")


def expected_csv(con, round_no: int, q: dict):
    """Rows the request's CSV must hold, or None if it must not be served."""
    fn = q["aggregation_function"]
    msg = json.loads(q["message"])
    s, c = _param(msg, "sessionId"), _param(msg, "clientId")
    it, e = _param(msg, "interactionType"), _param(msg, "entityType")
    scope = f"FROM data_rows WHERE round <= {round_no}"
    num = "CAST(json_extract_string(message, '$.{}') AS DOUBLE)".format
    if fn == "aggregate_interaction_type":
        if s is None or it is None:
            return None
        sql = (f"SELECT client_id, count(message) AS interaction_count {scope} "
               f"AND session_id = {s} AND {num('interactionType')} = {it} "
               "GROUP BY client_id")
    elif fn == "aggregate_user":
        if c is None or s is None:
            return None
        sql = (f"SELECT {_DECODE} AS entity_type, count(*) AS user_count FROM ("
               f"SELECT json_extract_string(message, '$.entityType') AS e {scope} "
               f"AND {num('clientId')} = {c} AND session_id = {s} "
               "AND type = 'sync') GROUP BY e")
    elif fn == "user_energy":
        if e is None or c is None:
            return None
        sid = 0 if s is None else s
        lag = "{0} - lag({0}) OVER (PARTITION BY session_id, client_id ORDER BY seq)"
        d = [lag.format(num(f"pos.{a}")) for a in "xyz"]
        sql = (
            "SELECT * FROM (SELECT client_id, session_id, ts AS timestamp, "
            "json_extract_string(message, '$.entityType') AS entity_type, "
            f"sqrt(pow({d[0]}, 2) + pow({d[1]}, 2) + pow({d[2]}, 2)) "
            f"/ ({lag.format('ts')}) AS energy {scope} AND {num('clientId')} = {c} "
            f"AND session_id = {sid} AND type = 'sync') "
            f"WHERE energy IS NOT NULL AND CAST(entity_type AS DOUBLE) = {e}"
        )
    else:
        return None
    return con.execute(sql).df()


def _norm(v):
    """A CSV or DuckDB cell as comparable: integral numbers as int, other
    numbers as float, the rest as text."""
    try:
        f = float(v)
    except (TypeError, ValueError):
        return str(v)
    return int(f) if f.is_integer() else f


def _rows(df) -> list[tuple]:
    rows = [tuple(_norm(v) for v in r) for r in df.itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple(
        (1, f"{v:.6g}") if isinstance(v, float) else (0, str(v)) for v in r))


def _same_rows(got, want) -> bool:
    """Same columns and rows; floats equal to 1e-9 relative, since the two
    engines may round the last digit differently."""
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False
    return all(
        math.isclose(a, b, rel_tol=1e-9) if isinstance(a, float) else a == b
        for ra, rb in zip(_rows(got), _rows(want)) for a, b in zip(ra, rb))

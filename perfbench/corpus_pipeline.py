"""Workload ``corpus_pipeline``: the LLM-data pipeline, streamed then batch.

A fresh process runs the pipeline once, as a batch job would:

1. **Stream stores.** The ``documents`` table arrives as seeded single-file
   splits. ``start_incremental_dedup`` (DISTINCT band store) and
   ``start_incremental_kn3`` (marker-fold counter store) drain them one file
   per trigger, and each store is then compacted with its public call
   (``compact_band_store``, ``compact_kn3_store``).
2. **Batch queries.** Passes of ``QUERIES`` run in order, each query
   built and then counted; ``model_memo`` is emptied before every pass, so
   each pass pays every shared fit once.

Stream triggers, compactions and the read-back of both stores are timed
into the pass; the per-operation latencies (``op_s_*``) are those of the
queries, build plus action. The stores' read-back is checked against the
batch twins' results (the oracle SQL of ``dedup_minhash_lsh``'s candidate
step and of ``text_kneser_ney3_logprob``), and every query's row count
against ``expected.json``, recorded from the program.
"""

from __future__ import annotations

import json
import os
import sys
import time

import datagen
from harness import (catalyst_ms, dir_stats, job_seconds, median, percentile,
                     wrap_everywhere)

#: Batch queries of the pipeline, in a fixed order: the dedup stream's
#: batch twin, two consumers of the shared BPE fit (the first pays the
#: fit, the second reuses it) and the job-heaviest query of the registry.
#: The order is not drawn from the seed: a query's time depends on its
#: place in the pass, through the shared fit's payer and through code
#: generated by the queries before it.
QUERIES = (
    "dedup_minhash_lsh",
    "text_bpe_merges_batched",
    "text_bpe_encode",
    "graph_components",
)
ARRIVAL_FILES = 2
#: Nominal seconds per query pass; ``--seconds`` buys ``seconds / PASS_S``
#: passes over the queries (at least one), the same on every commit. Each
#: pass starts with an empty memo, so each pays the shared fit once.
PASS_S = 30.0
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "expected.json")


class CorpusPipeline:
    name = "corpus_pipeline"

    def __init__(self, ctx):
        self.ctx = ctx
        w = ctx.work
        self.arrivals = os.path.join(w, "arrivals")
        self.band_store = os.path.join(w, "band_store")
        self.pairs = os.path.join(w, "pairs_store")
        self.kn3_store = os.path.join(w, "kn3_store")
        self.passes = max(1, round(ctx.seconds / PASS_S))
        self.query_s: list[float] = []
        self.trigger_s: list[float] = []
        self.ops: list[tuple[str, float]] = []  # (operation, seconds)
        self.batch_rows = 0
        self.stream_s = 0.0
        self.pass_s = 0.0
        self.counts: list[tuple[str, int]] = []
        self.progress: list[dict] = []
        self.store_before = (0, 0)
        self.store_new_bytes = 0
        self.memo = {"calls": 0, "fits": 0}
        self.held: list[int] = []
        self.read_back: dict[str, list] = {}
        self.jobs: dict[str, list] = {"build": [], "action": [], "stream": []}
        self.stage_by: dict[str, dict] = {k: {} for k in self.jobs}
        self.cat: dict[str, float] = {}
        self.failed = 0
        self.attempted = 0

    # -- set-up -------------------------------------------------------------
    def setup(self, spark) -> None:
        from komodo_data_spark.engine import KomodoEngine

        self.engine = KomodoEngine(spark, self.ctx.sf_dir)

    def prepare(self) -> None:
        """Stage the arrival files (the harness's side, plain pyarrow) and
        make sure the batch twins' results are at hand."""
        import pyarrow.parquet as pq

        twin_results(self.ctx.sf_dir)
        docs = pq.read_table(os.path.join(self.ctx.sf_dir, "documents.parquet"))
        split = datagen.arrival_split(self.ctx.seed, docs.num_rows, ARRIVAL_FILES)
        os.makedirs(self.arrivals, exist_ok=True)
        for i in range(ARRIVAL_FILES):
            part = docs.filter(split == i)
            path = os.path.join(self.arrivals, f"arrival_{i:03d}.parquet")
            pq.write_table(part, path)
            # distinct mtimes keep the file source's arrival order stable
            os.utime(path, ns=(i * 10**9 + 10**18, i * 10**9 + 10**18))

    # -- the pipeline -------------------------------------------------------------
    def run(self) -> None:
        import __spark_entry__ as entry
        from komodo_data_spark.operators import model_memo

        registry = entry.queries()
        if self.ctx.tracer.enabled:
            self._instrument()
        model_memo._MEMO.clear()
        t0 = time.perf_counter()
        self._streams()
        self.stream_s = time.perf_counter() - t0
        for p in range(self.passes):
            model_memo._MEMO.clear()
            for i, name in enumerate(QUERIES):
                self._query(f"{p}.{i}", name, registry[name])
        self.pass_s = time.perf_counter() - t0

    def _streams(self) -> None:
        from komodo_data_spark.streaming import dedup_incremental as dd
        from komodo_data_spark.streaming import kn3_incremental as kn

        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        w = ctx.work
        # a stream's jobs run in its own thread, under its run id as job group
        groups = []
        with tr.span("stream.dedup"):
            q = dd.start_incremental_dedup(spark, self.arrivals, self.band_store,
                                           self.pairs, os.path.join(w, "ck_dedup"))
            q.awaitTermination()
        self._progress(q)
        groups.append(str(q.runId))
        with tr.span("stream.kn3"):
            q = kn.start_incremental_kn3(spark, self.arrivals, self.kn3_store,
                                         os.path.join(w, "ck_kn3"))
            q.awaitTermination()
        self._progress(q)
        groups.append(str(q.runId))
        if tr.enabled:
            with tr.overhead():
                stores = [self.band_store, self.pairs, self.kn3_store]
                stats = [dir_stats(p, ".parquet") for p in stores]
                self.store_before = (sum(s[0] for s in stats),
                                     sum(s[1] for s in stats))
                seen = {f for p in stores for f in _files(p)}
        for what, store, fn in (("band", self.band_store, dd.compact_band_store),
                                ("kn3", self.kn3_store, kn.compact_kn3_store)):
            groups.append(f"store.compact_{what}")
            ctx.group(groups[-1])
            t = time.perf_counter()
            with tr.span("store.compact"):
                folded = fn(spark, store)
            self.ops.append((f"compact_{what}", time.perf_counter() - t))
            self.attempted += 1
            if folded != ARRIVAL_FILES:
                self._fail(f"compacting the {what} store folded {folded} epochs")
        docs = self.engine.table("documents").select("doc_id", "text")
        for what, read in (
            ("pairs", lambda: dd.candidates_from_store(spark, self.pairs)),
            ("kn3", lambda: kn.read_kn3_scores(spark, self.kn3_store, docs)),
        ):
            groups.append(f"store.read_{what}")
            ctx.group(groups[-1])
            t = time.perf_counter()
            with tr.span("store.read"):
                self.read_back[what] = read().collect()
            self.ops.append((f"read_{what}", time.perf_counter() - t))
            self.attempted += 1
        if tr.enabled:
            with tr.overhead():
                self.store_new_bytes = sum(
                    os.path.getsize(f) for p in stores for f in _files(p)
                    if f not in seen)
                self._spark_counters(groups, "stream")

    def _progress(self, query) -> None:
        """Per-trigger times from the drained query's progress reports."""
        for p in query.recentProgress:
            p = p if isinstance(p, dict) else json.loads(p.json)
            if not p.get("numInputRows"):
                continue  # the closing no-op trigger of availableNow
            ms = p["durationMs"]
            self.trigger_s.append(ms["triggerExecution"] / 1e3)
            self.ops.append(("trigger", self.trigger_s[-1]))
            self.batch_rows += p["numInputRows"]
            self.progress.append(ms)
            self.attempted += 1

    def _query(self, i: str, name: str, fn) -> None:
        ctx, tr, spark = self.ctx, self.ctx.tracer, self.ctx.spark
        tr.op = name
        self.attempted += 1
        ctx.group(f"q{i}.build")
        t0 = time.perf_counter()
        try:
            with tr.span("operators.build"):
                df = fn(spark, ctx.sf_dir)
            ctx.group(f"q{i}.action")
            with tr.span("action.count"):
                agg = df.groupBy().count()
                n = agg.collect()[0][0]
            elapsed = time.perf_counter() - t0
        except Exception as exc:  # one failed query must not stop the pass
            self._fail(f"{name} raised {type(exc).__name__}: {exc}")
            spark.catalog.clearCache()
            return
        self.query_s.append(elapsed)
        self.ops.append((name, self.query_s[-1]))
        self.counts.append((name, n))
        if tr.enabled:
            with tr.overhead():
                for k, v in catalyst_ms(agg).items():
                    self.cat[k] = self.cat.get(k, 0.0) + v
                self.held.append(ctx.counters.held_bytes())
                self._spark_counters([f"q{i}.build"], "build")
                self._spark_counters([f"q{i}.action"], "action")
        spark.catalog.clearCache()

    # -- tracing ----------------------------------------------------------------
    def _instrument(self) -> None:
        from komodo_data_spark.operators import model_memo
        from komodo_data_spark.sources import tables

        tr, memo = self.ctx.tracer, self.memo
        orig = model_memo.session_model

        def session_model(spark, family, params, fit):
            memo["calls"] += 1

            def counted_fit():
                memo["fits"] += 1
                with tr.span("model_memo.fit"):
                    return fit()

            return orig(spark, family, params, counted_fit)

        model_memo.session_model = session_model
        for attr in ("load_table", "load_events", "load_spread"):
            wrap_everywhere(tr, getattr(tables, attr), "tables.load")

    def _spark_counters(self, groups: list[str], kind: str) -> None:
        """Fold the jobs of ``groups`` into the ``kind`` totals (build,
        action or stream) and the run's stage totals."""
        jobs = self.ctx.counters.settle(groups)
        m = self.ctx.counters.job_metrics(jobs)
        self.ctx.add_stage_metrics(m)
        self.jobs[kind].extend(jobs)
        for k, v in m.items():
            self.stage_by[kind][k] = self.stage_by[kind].get(k, 0) + v

    # -- results ----------------------------------------------------------------
    def check(self) -> None:
        """Row counts against ``expected.json``; the stores' read-back
        against the batch twins' oracle results."""
        sf = self.ctx.sf_dir
        with open(EXPECTED) as fh:
            expected = json.load(fh)[os.path.basename(sf)]
        for name, n in self.counts:
            if expected.get(name) != n:
                self._fail(f"{name} gave {n} rows, expected {expected.get(name)}")
        twins = twin_results(sf)
        pairs = sorted([r[0], r[1]] for r in self.read_back["pairs"])
        if pairs != twins["pairs"] or not pairs:
            self._fail(f"dedup store: {len(pairs)} candidate pairs, batch twin "
                       f"{len(twins['pairs'])}")
        want = {d: (n, lp) for d, n, lp in twins["kn3"]}
        got = {r[0]: (r[1], r[2]) for r in self.read_back["kn3"]}
        bad = [d for d in want.keys() | got.keys()
               if d not in want or d not in got or want[d][0] != got[d][0]
               or not _close(want[d][1], got[d][1])]
        if bad or not want:
            self._fail(f"kn3 store: {len(bad)} of {len(want)} doc scores differ "
                       "from text_kneser_ney3_logprob")

    def _fail(self, msg: str) -> None:
        print(f"corpus_pipeline: {msg}", file=sys.stderr)
        self.failed += 1

    def metrics(self) -> dict:
        return {
            "op_s_p50": median(self.query_s),
            "op_s_p90": percentile(self.query_s, 90),
            "pass_s": self.pass_s,
            "rows_per_s": self.batch_rows / self.stream_s,
        }

    def layer_metrics(self) -> dict:
        tr = self.ctx.tracer
        action = self.stage_by["action"]
        n_schema, schema_s = job_seconds(
            [j for jobs in self.jobs.values() for j in jobs], "parquet at")
        calls = max(1, self.memo["calls"])
        pick = lambda key: median([p.get(key, 0) for p in self.progress])
        return {
            "tables.schema_jobs": n_schema,
            "tables.schema_job_s": schema_s,
            "operators.build_s": tr.total("operators.build"),
            "operators.build_jobs": len(self.jobs["build"]),
            "model_memo.fits": self.memo["fits"],
            "model_memo.hits": self.memo["calls"] - self.memo["fits"],
            "model_memo.hit_ratio": (self.memo["calls"] - self.memo["fits"]) / calls,
            "action.s": tr.total("action.count"),
            "action.jobs": len(self.jobs["action"]),
            "action.stages": action.get("stages", 0),
            "action.tasks": action.get("tasks", 0),
            "catalyst.analysis_ms": self.cat.get("analysis", 0.0),
            "catalyst.optimization_ms": self.cat.get("optimization", 0.0),
            "catalyst.planning_ms": self.cat.get("planning", 0.0),
            "storage.held_bytes": max(self.held, default=0),
            "stream.batch_s_p50": median(self.trigger_s),
            "stream.add_batch_ms": pick("addBatch"),
            "stream.planning_ms": pick("queryPlanning"),
            "stream.wal_commit_ms": pick("walCommit"),
            "stream.latest_offset_ms": pick("latestOffset"),
            "store.files": self.store_before[0],
            "store.bytes": self.store_before[1],
            "store.compact_s": tr.total("store.compact"),
            "store.bytes_rewritten": self.store_new_bytes,
        }


def _files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def _close(a, b) -> bool:
    if a is None or b is None:
        return a is b
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))


def twin_results(sf_dir: str) -> dict:
    """The batch twins' results over the whole ``documents`` table, from
    the registry's DuckDB oracle SQL: the MinHash-LSH candidate pairs (the
    oracle's ``cand`` step) and the trigram Kneser-Ney scores. They depend
    only on the base tables, so they are computed once and kept beside
    them."""
    path = os.path.join(sf_dir, "_twins.json")
    if os.path.isfile(path):
        with open(path) as fh:
            return json.load(fh)
    import duckdb

    import __spark_entry__ as entry

    oracle = entry.oracle_sql()
    head, sep, _ = oracle["dedup_minhash_lsh"].partition("SELECT doc_i, doc_j,")
    if not sep:
        raise RuntimeError("dedup_minhash_lsh oracle has no candidate step")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, 'documents.parquet')}')")
    out = {
        "pairs": sorted(list(r) for r in con.execute(
            head + "SELECT doc_i, doc_j FROM cand").fetchall()),
        "kn3": [list(r) for r in con.execute(
            "SELECT doc_id, n_trigrams, avg_logprob_kn3 FROM ("
            + oracle["text_kneser_ney3_logprob"] + ")").fetchall()],
    }
    con.close()
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, path)
    return out

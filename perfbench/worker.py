"""One workload, run in a fresh process: set up, warm up, then a
closed loop of operations (one client, the next operation starts when
the previous one returns) for a fixed number of seconds.

Each operation calls the package's public functions on the seeded
inputs, and its outputs are checked against the oracle after the
operation's clock has stopped. The result is written as JSON for
``run.py``, which owns the metrics.

With ``--trace 1`` every input runs twice, untraced and traced
(alternating which goes first); the traced copy records spans around
each call into a layer and forces each lazy layer's output at its
boundary with a noop write, keeping it cached for the next layer.
"""

import time

T0 = time.perf_counter()  # set-up is measured from here

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402


class Op:
    """What one operation did: its latency samples (one per operation,
    or one per micro-batch), input rows, wall time and verdict."""

    def __init__(self):
        self.latencies: list[float] = []
        self.rows = 0
        self.busy = 0.0
        self.failed = 0
        self.verify = lambda: 0
        self.stats: dict[str, float] = {}


def _dir_bytes(path: str, pattern: str) -> tuple[int, int]:
    files = [f for f in glob.glob(os.path.join(path, pattern)) if os.path.isfile(f)]
    return len(files), sum(os.path.getsize(f) for f in files)


class Workload:
    def __init__(self, spark, inputs: str, answer: dict, run_dir: str):
        self.spark = spark
        self.inputs = inputs
        self.answer = answer
        self.run_dir = run_dir
        self.tr = NullTracer()
        self._outputs = 0

    def warmup(self) -> list:
        """Untimed operations that warm the JIT, codegen caches and
        Python workers; ``run(-1)`` is each workload's warm-up input."""
        return [run_one(self, -1)]

    def _out(self, name: str) -> str:
        """A fresh output directory; outputs live until their check."""
        self._outputs += 1
        return os.path.join(self.run_dir, "out", f"{name}-{self._outputs}")


# --------------------------------------------------------------------------
# config_jobs
# --------------------------------------------------------------------------

class ConfigJobs(Workload):
    """Dialect A/B/B' configs over the star schema, back to back."""

    def __init__(self, *a):
        super().__init__(*a)
        data = os.path.join(os.path.abspath(self.inputs), "data")
        with open(os.path.join(self.inputs, "jobs.json")) as f:
            text = f.read().replace("{DATA}", data)
        self.jobs = json.loads(text)["jobs"]
        self.data = data

    def warmup(self) -> list:
        # the last config of each dialect in the cycle
        last = {job["dialect"]: i for i, job in enumerate(self.jobs)}
        return [run_one(self, i) for i in sorted(last.values())]

    def run(self, i: int) -> Op:
        from meta_frame_spark import (
            aggregate_and_join, load_data, nested_aggregate, run_pipeline,
            save_data, validate_nested_config, validate_pipeline_config,
            validate_tree_config,
        )

        job = self.jobs[i % len(self.jobs)]
        tr, spark = self.tr, self.spark
        validate = {"A": validate_pipeline_config, "B": validate_tree_config,
                    "Bp": validate_nested_config}[job["dialect"]]

        def loader(spark, child):
            with tr.span("sources.load"):
                return tr.force(load_data(spark, source=child.source or "auto",
                                          path=child.data_path))

        op = Op()
        saved = {}
        t = time.perf_counter()
        with tr.span("op"):
            with tr.span("config.validate"):
                spec = validate(job["config"])
            tr.count("config.validate_calls", 1)
            with tr.span("sources.load"):
                df = tr.force(load_data(spark, source="parquet", path=os.path.join(
                    self.data, f"{job['root_table']}.parquet")))
            with tr.span("plans.build"):
                if job["dialect"] == "A":
                    outs = run_pipeline(df, spec)
                elif job["dialect"] == "B":
                    outs = {"root": aggregate_and_join(df, spec, loader=loader)}
                else:
                    outs = {"root": nested_aggregate(df, spec)}
            if tr.active:
                for odf in outs.values():
                    plan = odf._jdf.queryExecution().optimizedPlan().treeString()
                    tr.count("plans.optimized_nodes", len(plan.strip().splitlines()))
            for out_id, odf in outs.items():
                if job["save"]:
                    with tr.span("engine.execute"):
                        odf = tr.force(odf)
                    path = self._out(f"job-{i}-{out_id}")
                    with tr.span("sinks.write"):
                        save_data(odf, path)
                    saved[out_id] = path
                else:
                    with tr.span("engine.execute"):
                        odf.write.format("noop").mode("overwrite").save()
        op.busy = time.perf_counter() - t
        op.latencies.append(op.busy)
        op.rows = job["rows_in"]
        tr.count("sources.rows_in", job["rows_in"])

        def verify() -> int:
            """Re-read saved outputs, collect the rest; compare hashes."""
            expect = self.answer[str(job["job_id"])]
            ok = True
            for out_id, odf in outs.items():
                if out_id in saved:
                    import pyarrow.parquet as pq

                    files, nbytes = _dir_bytes(saved[out_id], "*.parquet")
                    table = pq.read_table(saved[out_id])
                    got = oracle.table_hash(list(zip(*table.to_pydict().values())),
                                            table.column_names)
                    tr.count("sinks.files_written", files)
                    tr.count("sinks.bytes_written", nbytes)
                    tr.count("sinks.rows_written", table.num_rows)
                    shutil.rmtree(saved[out_id], ignore_errors=True)
                else:
                    got = oracle.table_hash(odf.collect(), odf.columns)
                ok &= got == expect[out_id]
            return 0 if ok else 1

        op.verify = verify
        return op


# --------------------------------------------------------------------------
# curation_batch
# --------------------------------------------------------------------------

TEXT_STEPS = {"steps": [
    {"op": "normalize", "text_col": "text"},
    {"op": "quality_score_gate", "text_col": "text", "min_score": 0.5},
    {"op": "entropy_gate", "text_col": "text", "min_entropy": 1.5},
]}
DEDUP_STEPS = {"steps": [{"op": "dedup_exact", "key_cols": ["text"], "id_col": "doc_id"}]}


class CurationBatch(Workload):
    """Corpus shards through gates, exact dedup, MinHash-LSH near dedup
    and a JSONL shard export."""

    def run(self, i: int) -> Op:
        from meta_frame_spark import load_data
        from meta_frame_spark.operators.cache import release_tracked_caches
        from meta_frame_spark.operators.dedup import (
            drop_near_duplicates, minhash_lsh_candidates, minhash_lsh_dedup,
            minhash_signatures,
        )
        from meta_frame_spark.plans.curation import run_curation
        from meta_frame_spark.sources.sinks import write_jsonl_shards

        k = gen.CURATION_SHARDS if i < 0 else i % gen.CURATION_SHARDS
        truth = self.answer["shards"][k]
        tr, spark = self.tr, self.spark
        out = self._out(f"shard-{i}")
        op = Op()
        t = time.perf_counter()
        with tr.span("op"):
            with tr.span("sources.load"):
                df = tr.force(load_data(spark, source="parquet", path=os.path.join(
                    self.inputs, f"shard-{k:02d}.parquet")))
            with tr.span("plans.build"):
                gated = run_curation(df, TEXT_STEPS)
            with tr.span("functions.text"):
                gated = tr.force(gated)
            if tr.active:
                tr.count("functions.text.passed", gated.count())
                tr.count("functions.text.rows", truth["rows"])
            with tr.span("plans.build"):
                kept = run_curation(gated, DEDUP_STEPS)
            with tr.span("operators.dedup.exact"):
                kept = tr.force(kept)
            with tr.span("operators.dedup.minhash"):
                pairs = tr.force(minhash_lsh_dedup(kept))
            if tr.active:
                tr.count("operators.dedup.verified_pairs", pairs.count())
                cands = minhash_lsh_candidates(minhash_signatures(kept))
                tr.count("operators.dedup.candidate_pairs", cands.count())
            with tr.span("operators.dedup.drop"):
                final = drop_near_duplicates(kept, pairs)
            with tr.span("engine.execute"):
                final = tr.force(final)
            with tr.span("sinks.write"):
                write_jsonl_shards(final, out, records_per_shard=1000, compression=None)
        op.busy = time.perf_counter() - t
        release_tracked_caches()
        op.latencies.append(op.busy)
        op.rows = truth["rows"]
        tr.count("sources.rows_in", truth["rows"])

        def verify() -> int:
            """Survivors against the duplicate ground truth."""
            ids = []
            for path in sorted(glob.glob(os.path.join(out, "*.json"))):
                with open(path) as f:
                    ids += [json.loads(line)["doc_id"] for line in f if line.strip()]
            files, nbytes = _dir_bytes(out, "*.json")
            tr.count("sinks.files_written", files)
            tr.count("sinks.bytes_written", nbytes)
            tr.count("sinks.rows_written", len(ids))
            shutil.rmtree(out, ignore_errors=True)
            survivors = set(ids)
            removed_near = sum(max(g) not in survivors for g in truth["near"])
            op.stats["near_injected"] = len(truth["near"])
            op.stats["near_removed"] = removed_near
            ok = (len(ids) == len(survivors)                       # no doc_id twice
                  and all(max(g) not in survivors for g in truth["exact"])
                  and sorted(survivors) == truth["survivors"])
            return 0 if ok else 1

        op.verify = verify
        return op


# --------------------------------------------------------------------------
# search_batches
# --------------------------------------------------------------------------

IVF = {"k": oracle.TOPK, "n_cells": 32, "n_probe": 4}


class SearchBatches(Workload):
    """Query batches against one fixed corpus: IVF top-k over the
    embeddings and BM25 top-k over the documents."""

    def __init__(self, *a):
        super().__init__(*a)
        with open(os.path.join(self.inputs, "bm25.json")) as f:
            self.terms = json.load(f)
        self.vectors = None

    def warmup(self) -> list:
        # two batches from the end of the cycle: one leaves the first
        # timed batches still on the steep part of the JIT curve
        return [run_one(self, -1), run_one(self, -2)]

    def run(self, i: int) -> Op:
        from pyspark.sql import functions as F

        from meta_frame_spark import load_data
        from meta_frame_spark.operators.search import bm25_topk
        from meta_frame_spark.operators.similarity import ivf_topk

        b = i % gen.QUERY_BATCHES
        tr, spark = self.tr, self.spark
        path = lambda name: os.path.join(self.inputs, name)  # noqa: E731
        op = Op()
        t = time.perf_counter()
        with tr.span("op"):
            with tr.span("sources.load"):
                corpus = load_data(spark, source="parquet", path=path("corpus.parquet"))
                queries = load_data(spark, source="parquet", path=path("queries.parquet")) \
                    .filter(F.col("batch") == b)
                docs = load_data(spark, source="parquet", path=path("documents.parquet"))
                corpus, queries, docs = (tr.force(d) for d in (corpus, queries, docs))
            with tr.span("operators.similarity.ivf"):
                res = ivf_topk(corpus, queries, **IVF)
            with tr.span("engine.execute"):
                ivf_rows = res.collect()
            bm25_rows = []
            for terms in self.terms[b * gen.BM25_PER_BATCH:(b + 1) * gen.BM25_PER_BATCH]:
                with tr.span("operators.search.bm25"):
                    top = bm25_topk(docs, terms, k=oracle.TOPK)
                with tr.span("engine.execute"):
                    bm25_rows.append(top.collect())
        op.busy = time.perf_counter() - t
        op.latencies.append(op.busy)
        op.rows = gen.EMB_N + gen.BM25_PER_BATCH * gen.SEARCH_DOCS
        tr.count("sources.rows_in", op.rows)

        def verify() -> int:
            """IVF ranking and recall; BM25 against the Python twin."""
            ok, hits, n_q = self._check_ivf(ivf_rows, b)
            for terms_i, rows in enumerate(bm25_rows):
                want = self.answer["bm25"][b * gen.BM25_PER_BATCH + terms_i]
                ok &= [[r["doc_id"], r["score"]] for r in rows] == want
            op.stats["ivf_hits"] = hits
            op.stats["ivf_slots"] = n_q * oracle.TOPK
            return 0 if ok else 1

        op.verify = verify
        return op

    def _check_ivf(self, rows, b: int):
        """Each query's neighbours: k distinct corpus ids, ranked by exact
        cosine (ties by id). Recall counts overlap with the exact top-k."""
        import numpy as np
        import pyarrow.parquet as pq

        if self.vectors is None:
            def unit(name):
                t = pq.read_table(os.path.join(self.inputs, name))
                v = np.stack(t.column("embedding").to_numpy(zero_copy_only=False))
                v = v.astype(np.float64)
                return t.column("vec_id").to_numpy(), v / np.linalg.norm(v, axis=1, keepdims=True)

            ids, v = unit("corpus.parquet")
            self.vectors = v[np.argsort(ids)]  # row i holds vec_id i
            qids, qv = unit("queries.parquet")
            self.qvec = dict(zip(qids.tolist(), qv))
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        want_q = [int(q) for q in range(10**9 + b * gen.QUERIES_PER_BATCH,
                                        10**9 + (b + 1) * gen.QUERIES_PER_BATCH)]
        ok = set(got) == set(want_q)
        hits = 0
        for q in want_q:
            nn = [n for _, n in sorted(got.get(q, []))]
            ok &= len(nn) == oracle.TOPK and len(set(nn)) == len(nn) \
                and all(0 <= n < gen.EMB_N for n in nn)
            if not ok:
                continue
            s = self.vectors[nn] @ self.qvec[q]
            ok &= bool(np.all(np.diff(s) <= 1e-9))
            hits += len(set(nn) & set(self.answer["ivf"][str(q)]))
        return ok, hits, len(want_q)


# --------------------------------------------------------------------------
# event_stream
# --------------------------------------------------------------------------

class EventStream(Workload):
    """Event files replayed through the file source, per-user running
    totals as a stateful operator, micro-batches written to parquet."""

    def __init__(self, *a):
        super().__init__(*a)
        from pyspark.sql.streaming import StreamingQueryListener

        done = self.done = {}
        progress = self.progress = {}
        cond = self.cond = threading.Condition()

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with cond:
                    progress.setdefault(str(p.runId), []).append({
                        "trigger_s": p.durationMs.get("triggerExecution", 0) / 1000.0,
                        "rows": p.numInputRows,
                        "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    })

            def onQueryTerminated(self, event):
                with cond:
                    done[str(event.runId)] = True
                    cond.notify_all()

        self.listener = Listener()
        self.spark.streams.addListener(self.listener)

    def run(self, i: int) -> Op:
        from meta_frame_spark.streaming import read_event_stream, run_to_parquet, user_running_totals

        tr, spark = self.tr, self.spark
        sub = "warmup" if i < 0 else "events"
        out, ck = self._out(f"stream-{i}"), self._out(f"ck-{i}")
        op = Op()
        with self.cond:
            known = set(self.done)
        t = time.perf_counter()
        with tr.span("op"):
            with tr.span("sources.load"):
                events = read_event_stream(spark, os.path.join(self.inputs, sub),
                                           max_files_per_trigger=1)
            with tr.span("streaming.build"):
                totals = user_running_totals(events)
            with tr.span("streaming.run"):
                run_to_parquet(totals, out, ck, output_mode="update")
        op.busy = time.perf_counter() - t
        batches = self._await_query_end(known)
        op.latencies = [b["trigger_s"] for b in batches]
        op.rows = sum(b["rows"] for b in batches)
        tr.count("sources.rows_in", op.rows)
        tr.count("streaming.batches", len(batches))
        tr.count("streaming.batch_s", statistics.median(op.latencies) if batches else 0.0)
        tr.count("streaming.state_rows", batches[-1]["state_rows"] if batches else 0)
        tr.count("streaming.rows_per_batch",
                 sum(b["rows"] for b in batches) / max(len(batches), 1))

        def verify() -> int:
            """Final totals against a batch GROUP BY of the same files."""
            import duckdb

            files, nbytes = _dir_bytes(out, "*/*.parquet")
            tr.count("sinks.files_written", files)
            tr.count("sinks.bytes_written", nbytes)
            con = duckdb.connect()
            final = con.execute(
                "SELECT user_id, arg_max(n_events, _batch_id), arg_max(total_value, _batch_id), "
                f"arg_max(max_value, _batch_id) FROM read_parquet('{out}/*/*.parquet', "
                "hive_partitioning = true) GROUP BY user_id").fetchall()
            con.close()
            tr.count("sinks.rows_written", len(final))
            got = oracle.table_hash(final, ["user_id", "n_events", "total_value", "max_value"])
            shutil.rmtree(out, ignore_errors=True)
            shutil.rmtree(ck, ignore_errors=True)
            return 0 if got == self.answer[sub] else len(op.latencies) or 1

        op.verify = verify
        return op

    def _await_query_end(self, known: set, timeout: float = 30.0) -> list[dict]:
        """Progress of the query that just ended. The listener bus
        delivers events asynchronously, so wait for its termination."""
        deadline = time.perf_counter() + timeout
        with self.cond:
            while not set(self.done) - known and time.perf_counter() < deadline:
                self.cond.wait(0.05)
            new = set(self.done) - known
            return [b for r in new for b in self.progress.get(r, []) if b["rows"] > 0]


WORKLOADS = {
    "config_jobs": ConfigJobs,
    "curation_batch": CurationBatch,
    "search_batches": SearchBatches,
    "event_stream": EventStream,
}


def run_one(wl: Workload, i: int) -> Op:
    """``wl.run(i)``; an operation that raises is a failed operation."""
    t = time.perf_counter()
    try:
        return wl.run(i)
    except Exception:
        traceback.print_exc()
        op = Op()
        op.busy = time.perf_counter() - t
        op.latencies.append(op.busy)
        op.verify = lambda: 1
        return op


def check(op: Op) -> int:
    """Failed samples of ``op``; a check that raises fails them all."""
    try:
        return op.verify()
    except Exception:
        traceback.print_exc()
        return len(op.latencies) or 1


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    with open(os.path.join(args.inputs, "oracle.json")) as f:
        answer = json.load(f)
    tracer = Tracer() if args.trace else None
    with (tracer or NullTracer()).span("session.get_session"):
        from meta_frame_spark.session import get_session

        # a fixed, pre-touched heap: the JVM's resident size does not
        # depend on when the garbage collector chose to grow the heap
        heap = os.environ["SPARK_GRAFT_DRIVER_MEM"]
        spark = get_session(app_name=f"perfbench-{args.workload}", extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{heap} -XX:+AlwaysPreTouch"})
    wl = WORKLOADS[args.workload](spark, args.inputs, answer, args.run_dir)
    warm = wl.warmup()
    setup_s = time.perf_counter() - T0
    for op in warm:
        op.failed = check(op)
    if tracer is not None:
        tracer.sc = spark.sparkContext

    # the closed loop; a traced run runs each input untraced and traced,
    # alternating which goes first
    ops: list[Op] = []
    traced: list[Op] = []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while time.perf_counter() < deadline or not ops:
        order = [False] if tracer is None else [i % 2 == 1, i % 2 == 0]
        for with_trace in order:
            wl.tr = tracer if with_trace else NullTracer()
            if with_trace:
                tracer.op = i
            op = run_one(wl, i)
            if with_trace:
                tracer.release()
                tracer.settle()
            (traced if with_trace else ops).append(op)
        i += 1
    # outputs are checked after the timed window, so a check never
    # delays the next operation of the closed loop
    for op in ops + traced:
        op.failed = check(op)

    result = {
        "setup_s": setup_s,
        "warmup_failed": sum(op.failed for op in warm),
        "latencies": [x for op in ops for x in op.latencies],
        "failed_samples": sum(op.failed for op in ops + traced),
        "traced_samples": sum(len(op.latencies) for op in traced),
        "ops": len(ops),
        "rows": sum(op.rows for op in ops),
        "busy_s": sum(op.busy for op in ops),
        "stats": {},
    }
    for op in ops:
        for k, v in op.stats.items():
            result["stats"][k] = result["stats"].get(k, 0) + v
    if tracer is not None:
        result["trace"] = {
            "summary": tracer.summary(len(traced)),
            "counters": {k: v / max(len(traced), 1) for k, v in tracer.counters.items()},
            "overhead_ratio": sum(op.busy for op in traced) / sum(op.busy for op in ops),
            "traced_ops": len(traced),
            "spans": [vars(s) for s in tracer.spans],
        }
    with open(args.out, "w") as f:
        json.dump(result, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

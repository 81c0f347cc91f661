"""``corpus_curation``: the LLM-data operators as a nightly batch job, and
(traced runs only) the same dedup operators as a streaming ingest.

A closed loop, one job at a time: each pass runs ``QUERIES`` (registered
queries) in order over the seeded corpus in ``<work>/corpus``, each
through the no-op sink. The first pass after set-up pays plan build and
memo fill; it also persists each query's output as the no-op sink
computes it, so the outputs can be collected afterwards, untimed, without
running the queries again, and handed to the launcher (``Harness``),
which checks them against their DuckDB oracles with the
``tests/parity.py`` rules after the worker has exited. Then
``WARM_PASSES`` warm passes run, a fixed number whatever the speed (one
in a traced run, which reconciles its traced pass against it).

With ``--trace 1`` every query of the first pass and of one more warm
pass is split into registry call, Catalyst planning and execution. Then
the ingest phase runs ``streaming.full_ingest.run_full_ingest_stream``
under a processing-time trigger over a second seeded corpus in
``<work>/ingest``: an open-loop generator drops ``RATE_FILES`` arrival
files, one every ``RATE_GAP_S`` seconds, then one backlog file, and the
phase ends when every arrival has its verdict row. The ``streaming.*``
metrics are read from ``StreamingQueryProgress`` through a listener, and
the verdict rows are checked against the batch fold
``ingest_funnel_rows`` over the same documents.
"""

from __future__ import annotations

import glob
import os
import time

from common import JobCounter, force_plan, log, median, memo_entries, noop, now, phase

QUERIES = (
    "x2_minhash_lsh",  # dedup
    "x3_pandas_matmul",  # similarity
    "x4_bigram_logprob",  # text
    "x5_media_hash_dedup",  # multimodal
    "x9_curation_v8",  # memo-riding composite
)
N_DOCS = 500
N_VECS = 200
WARM_PASSES = 2

#: the streaming ingest (traced runs): arrival files of the fixed-rate
#: phase, the gap between them, and the one backlog file after them
RATE_FILES = (25, 25, 25)
RATE_GAP_S = 3.0
BACKLOG_FILE = 100
N_INGEST = sum(RATE_FILES) + BACKLOG_FILE
TRIGGER = "100 milliseconds"
#: the per-doc verdict columns the stream writes and the batch fold returns
VERDICT_COLS = (
    "doc_id", "source", "f_nd", "n_tokens", "tokens_after",
    "pii_post", "f_pii", "f_q", "f_ct",
)
INGEST_TIMEOUT_S = 60


# -- launcher side -------------------------------------------------------------


class _Collected:
    """A collected query output, in the shape ``tests/parity.py`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):  # noqa: N802 — the Spark method name
        return self.pdf


class Harness:
    """The launcher's part of a run: the seeded inputs, and the oracle
    check of the query outputs the worker collected."""

    def __init__(self, seed: int, trace: bool, work: str):
        import gen

        self.work = work
        gen.write_corpus(seed, N_DOCS, N_VECS, os.path.join(work, "corpus"))
        if trace:
            docs = gen.write_corpus(seed + 1_000_003, N_INGEST, N_INGEST, os.path.join(work, "ingest"))
            gen.write_arrivals(docs, [*RATE_FILES, BACKLOG_FILE], os.path.join(work, "arrivals"))

    def check(self, res: dict) -> None:
        """Add the queries that differ from their oracle to ``res``."""
        import duckdb
        import pandas as pd
        from etl_active911_spark.plans.registry import ORACLES, load_all
        from tests.parity import compare, fetch_df

        t = now()
        load_all()
        sf_dir = os.path.join(self.work, "corpus")
        con = duckdb.connect()
        con.execute(f"SET threads TO {os.cpu_count() or 1}")
        for table in ("documents", "embeddings"):
            path = os.path.join(sf_dir, f"{table}.parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
        for q in QUERIES:
            got = pd.read_pickle(os.path.join(self.work, "collected", f"{q}.pkl"))
            problems = compare(_Collected(got), fetch_df(con, ORACLES[q]))
            if problems:
                res["failed"] += res["passes"]
                res["problems"][q] = problems
        log(f"check {now() - t:.2f}s")

    def close(self) -> None:
        pass


# -- worker side ---------------------------------------------------------------


def _pass(spark, sf_dir: str, keep: dict | None = None) -> float:
    """One pass; with ``keep``, each query's output is persisted as the
    no-op sink computes it and kept there by name."""
    from etl_active911_spark.plans.registry import QUERIES as REG

    t = now()
    for q in QUERIES:
        tq = now()
        df = REG[q](spark, sf_dir)
        if keep is not None:
            df = keep[q] = df.persist()
        noop(df)
        log(f"  {q} {now() - tq:.2f}s")
    return now() - t


def _traced_pass(spark, sf_dir: str, jc: JobCounter, keep: dict | None = None) -> dict:
    """A pass split into registry call, Catalyst planning and execution;
    ``keep`` as in ``_pass`` (the first pass)."""
    from etl_active911_spark.plans.registry import QUERIES as REG

    out: dict[str, float] = {}
    build_key = "plans.build_first_s" if keep is not None else "plans.build_warm_s"
    for q in QUERIES:
        t = now()
        df = REG[q](spark, sf_dir)
        out[f"{build_key}.{q}"] = now() - t
        if keep is not None:
            df = keep[q] = df.persist()
        t = now()
        force_plan(df)
        out[f"catalyst.plan_s.{q}"] = now() - t
        with jc.group(q):
            t = now()
            noop(df)
            out[f"operators.exec_s.{q}"] = now() - t
        jobs, stages, tasks = jc.counts()
        out[f"spark.jobs.{q}"] = jobs
        out[f"spark.stages.{q}"] = stages
        out[f"spark.tasks.{q}"] = tasks
    return out


def _collect(kept: dict, work: str) -> None:
    """Store the first pass's persisted outputs for the launcher, and
    release them."""
    out = os.path.join(work, "collected")
    os.makedirs(out, exist_ok=True)
    for q, df in kept.items():
        df.toPandas().to_pickle(os.path.join(out, f"{q}.pkl"))
        df.unpersist()


def verdict_problems(got: list[tuple], want: list[tuple]) -> set[int]:
    """doc_ids whose stream verdict rows differ from the batch fold's (as
    multisets): a missing, extra, duplicated or different row."""
    from collections import Counter

    diff = (Counter(got) - Counter(want)) + (Counter(want) - Counter(got))
    return {row[0] for row in diff}


def _dir_bytes(*dirs: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for d in dirs
        for root, _, files in os.walk(d)
        for f in files
    )


def _verdicted(out_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(f).num_rows for f in glob.glob(os.path.join(out_dir, "*.parquet")))


def _ingest(spark, work: str) -> tuple[dict, int, int]:
    """The streaming ingest phase. Returns (its ``streaming.*`` metrics,
    arrival files attempted, arrival files whose verdicts are wrong)."""
    from pyspark.sql.streaming import StreamingQueryListener
    from etl_active911_spark.io import read_table
    from etl_active911_spark.operators.ingest_funnel import ingest_funnel_rows
    from etl_active911_spark.streaming.full_ingest import run_full_ingest_stream

    class Progress(StreamingQueryListener):
        def __init__(self):
            self.batches: dict[int, tuple[int, int, int]] = {}

        def onQueryStarted(self, event):  # noqa: N802 — the listener API
            pass

        def onQueryProgress(self, event):  # noqa: N802
            p = event.progress
            if p.numInputRows:
                d = p.durationMs
                self.batches[p.batchId] = (
                    p.numInputRows, d.get("triggerExecution", 0), d.get("addBatch", 0)
                )

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    ingest_dir = os.path.join(work, "ingest")
    arrivals = sorted(glob.glob(os.path.join(work, "arrivals", "*.parquet")))
    stream = os.path.join(work, "stream")
    src_dir = os.path.join(stream, "src")
    os.makedirs(src_dir)
    state = [os.path.join(stream, d) for d in ("sigs", "bands", "ledger")]
    out_dir, ckpt = os.path.join(stream, "out"), os.path.join(stream, "ckpt")

    listener = Progress()
    spark.streams.addListener(listener)
    src = spark.readStream.schema("doc_id long, source string, text string").parquet(src_dir)
    emb = read_table(spark, ingest_dir, "embeddings")
    query = run_full_ingest_stream(src, emb, *state, out_dir, ckpt, processing_time=TRIGGER)
    try:
        t0 = time.monotonic()
        for i, path in enumerate(arrivals[:-1]):
            time.sleep(max(0.0, t0 + i * RATE_GAP_S - time.monotonic()))
            os.rename(path, os.path.join(src_dir, os.path.basename(path)))
        time.sleep(max(0.0, t0 + len(RATE_FILES) * RATE_GAP_S - time.monotonic()))
        backlog_end = sum(RATE_FILES) - _verdicted(out_dir)
        os.rename(arrivals[-1], os.path.join(src_dir, os.path.basename(arrivals[-1])))
        end = time.monotonic() + INGEST_TIMEOUT_S
        while _verdicted(out_dir) < N_INGEST and time.monotonic() < end and query.isActive:
            time.sleep(0.05)
        # the last batch's progress reaches the listener after its verdicts
        last = (query.lastProgress or {}).get("batchId", -1)
        while (query.status["isTriggerActive"] or last not in listener.batches) and time.monotonic() < end:
            time.sleep(0.05)
            last = (query.lastProgress or {}).get("batchId", -1)
    finally:
        query.stop()
        spark.streams.removeListener(listener)
    log(f"ingest {time.monotonic() - t0:.2f}s, {len(listener.batches)} batches")

    phase(work, "harness")
    got = [tuple(r[c] for c in VERDICT_COLS) for r in spark.read.parquet(out_dir).collect()]
    want = [tuple(r[c] for c in VERDICT_COLS) for r in ingest_funnel_rows(spark, ingest_dir).collect()]
    bad_docs = verdict_problems(got, want)
    bounds, start = [], 0
    for n in (*RATE_FILES, BACKLOG_FILE):
        bounds.append(range(start, start + n))
        start += n
    bad_files = sum(any(d in r for d in bad_docs) for r in bounds)
    log(f"ingest check: {len(got)} verdict rows, {bad_files} files wrong")

    batches = list(listener.batches.values())
    metrics = {
        "streaming.trigger_ms": median([b[1] for b in batches]) if batches else 0,
        "streaming.add_batch_ms": median([b[2] for b in batches]) if batches else 0,
        "streaming.batches": len(batches),
        "streaming.docs_per_batch": N_INGEST / len(batches) if batches else 0,
        "streaming.input_rows_per_doc": sum(b[0] for b in batches) / N_INGEST,
        "streaming.state_bytes": _dir_bytes(*state),
        "streaming.backlog_end_docs": backlog_end,
    }
    return metrics, len(bounds), bad_files


def run(spark, args) -> dict:
    sf_dir = os.path.join(args.work, "corpus")
    jc = JobCounter(spark.sparkContext)
    layers: dict[str, float] = {}

    kept: dict = {}
    if args.trace:
        t = now()
        layers.update(_traced_pass(spark, sf_dir, jc, keep=kept))
        first = now() - t
    else:
        first = _pass(spark, sf_dir, keep=kept)
    layers["plans.memo_entries"] = memo_entries()
    log(f"first pass {first:.2f}s")

    phase(args.work, "harness")
    _collect(kept, args.work)
    phase(args.work, "run")

    warm: list[float] = []
    for _ in range(1 if args.trace else WARM_PASSES):
        warm.append(_pass(spark, sf_dir))
        log(f"warm pass {warm[-1]:.2f}s")

    n_passes = 1 + len(warm)
    out = {
        "attempted": n_passes * len(QUERIES),
        "failed": 0,
        "passes": n_passes,
        "problems": {},
        "e2e": {
            "first_op_s": first,
            "op_p50_s": median(warm),
            "items_per_s": N_DOCS * len(warm) / sum(warm),
        },
        "named": {
            "first_pass_s": (first, "s"),
            "pass_p50_s": (median(warm), "s"),
            "docs_per_s": (N_DOCS * len(warm) / sum(warm), "1/s"),
            "warm_passes": (len(warm), "count"),
        },
        "layers": layers,
    }
    if args.trace:
        traced = _traced_pass(spark, sf_dir, jc)
        layers.update(traced)
        self_s = sum(v for k, v in traced.items() if k.startswith(("plans.", "operators.")))
        layers["reconcile.layers_s"] = self_s
        layers["reconcile.untraced_s"] = median(warm)
        layers["reconcile.overhead_ratio"] = self_s / median(warm) - 1
        stream_metrics, files, bad_files = _ingest(spark, args.work)
        layers.update(stream_metrics)
        out["attempted"] += files
        out["failed"] += bad_files
        if bad_files:
            out["problems"]["full_ingest"] = [f"{bad_files} arrival files differ from the batch fold"]
    return out

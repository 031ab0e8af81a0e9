"""The benchmark workloads.

Each workload is one client in a closed loop on one SparkSession: it
issues the next operation only after the previous one returned and was
checked. Every operation calls the layers' public functions
(``plans.pipeline``, the ``plans.marketing`` views, ``streaming.pipeline``,
``operators.dedup``/``operators.similarity``, ``sources.versioned``).
Inputs come from :mod:`gen`; outputs are checked by :mod:`checks`
outside the timed regions.

Both workloads have the same three phases, so every metric the
benchmark declares is measured on each of them:

- *load* (part of ``setup_s``): the stores the operations start from —
  the cold warehouse bootstrap, or the dedup stores and IVF-PQ index;
- *ops*: the repeated write operation, until ``seconds`` have passed
  (at least one) — an incremental day, or one document batch and one
  embedding batch through their gates;
- *reads*: the workload's consumer reads the results — a dashboard
  refresh of the six KPI views under a period slicer, or the decisions
  one commit added to a gate's decision table.

What is specific to a workload (stage walls, per-view latencies, gate
ratios, store versions) goes to ``Run.detail``, printed in the
metadata line under the layer names of ``perfbench/README.md``.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import checks
import gen
import pandas as pd
import pyarrow.parquet as pq
from spans import Span, Tracer

from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    dedup as dedup_ops,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.operators import (
    similarity,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.plans import (
    marketing,
    pipeline,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import inheritable
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.sources import (
    versioned as vt,
)
from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.streaming import (
    pipeline as streaming,
)

# Sizes. 200K events over 30 daily periods (twice the engine's sf0.1
# events table, about a quarter of the reference's 853.6K-row fact) and
# a 2.2K-row item table like the reference's d_item; each day's delta is
# 2% of the base. The benchmark's 48 runs must fit 3420 s on a shared
# 4-core host whose speed drifts by 20% or more: a 1M-event daily_etl
# run (about 110 s) or 1000-item dedup batches (about 76 s) would not,
# and 300K events with two days took 76-88 s a run.
N_EVENTS = 200_000
N_USERS = 30_000
N_ITEMS = 2_200
DELTA_SHARE = 0.02
# A day's wall moves by about 15% between runs on a shared 4-core host
# while every stage moves together, so each run times at least two.
MIN_DAYS = 2
# Reads per run, after the ops: dashboard refreshes (six KPI views
# each) for daily_etl, change-feed syncs for dedup_stream.
REFRESHES = 4
CHANGE_READS = 12
DEDUP_STORE = 1_000
DEDUP_BATCH = 200
BATCHES_PER_ROUND = 2


@dataclass
class Run:
    """State of one benchmark run: inputs, spans, verdicts, metrics."""

    spark: object
    tmp: str
    seed: int
    seconds: float
    tracer: Tracer
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    inputs: dict = field(default_factory=lambda: {"rows": 0, "bytes": 0})
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    setup_s: float = 0.0
    # Spark families for the traced run: name -> function of the parsed
    # event log (spans.EventLog) returning one row per operation.
    # "load", "op" and "read" are per-layer metrics, the rest detail.
    spark_families: dict = field(default_factory=dict)

    def verdict(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{what}: {p}" for p in problems)

    def add_input(self, rows: int, nbytes: int) -> None:
        self.inputs["rows"] += rows
        self.inputs["bytes"] += nbytes

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def phases(self, *, ops: list[float], reads: list[float], items: int, busy: float,
               overhead: list[float], written: list[tuple[float, float]]) -> None:
        """The metrics every workload reports, from its phases.

        ``ops``/``reads`` are the operation and read walls, ``items``
        what the ops processed in ``busy`` seconds of wall, ``overhead``
        the op time outside the engine work it times, ``written``
        (rows, bytes) written per input row and byte, per op."""
        self.e2e["op_p50_s"] = statistics.median(ops)
        self.e2e["read_p50_s"] = statistics.median(reads)
        self.e2e["items_per_s"] = items / busy
        self.layer["op.overhead_s"] = statistics.median(overhead)
        self.layer["op.rows_written_per_input_row"] = statistics.median(r for r, _ in written)
        self.layer["op.bytes_written_per_input_byte"] = statistics.median(b for _, b in written)


def written_since(roots, since: float) -> tuple[int, int]:
    """Rows (of parquet files) and bytes of the files under ``roots``
    written at or after ``since``."""
    rows = nbytes = 0
    for root in roots:
        for r, _d, fs in os.walk(root):
            for f in fs:
                path = os.path.join(r, f)
                st = os.stat(path)
                if st.st_mtime < since:
                    continue
                nbytes += st.st_size
                if f.endswith(".parquet"):
                    rows += pq.ParquetFile(path).metadata.num_rows
    return rows, nbytes


# ---------------------------------------------------------------------------
# daily_etl: the daily cycle and its BI consumer
# ---------------------------------------------------------------------------

def _run_day(run: Run, source_dir: str, warehouse: str) -> None:
    """One daily cycle through the public pipeline API, one span per
    stage."""
    spark = run.spark
    for stage in pipeline.PIPELINE_STAGES:
        with run.tracer.span(stage):
            pipeline.run_stage(spark, source_dir, warehouse, stage)
    with run.tracer.span("publish_catalog"):
        pipeline.publish_catalog(spark, warehouse)
    with run.tracer.span("export_bi"):
        pipeline.export_bi(spark, warehouse)


def _apply_slicer(spark, window) -> None:
    """Power BI's period slicer: the KPI views are re-issued over the
    published fact restricted to [lo, hi)."""
    lo, hi = (str(w.astype("datetime64[s]")).replace("T", " ") for w in window)
    spark.table("wh_f_events").where(
        f"event_time >= TIMESTAMP'{lo}' AND event_time < TIMESTAMP'{hi}'"
    ).createOrReplaceTempView("f_events")
    spark.table("wh_d_item").createOrReplaceTempView("d_item")
    marketing.register_warehouse_kpi_views(spark)


def daily_etl(run: Run) -> None:
    """The reference's daily cycle and its BI consumer, in one session.

    1. Load: cold bootstrap, every stage of ``PIPELINE_STAGES`` through
       ``run_stage``, then ``publish_catalog`` and ``export_bi``.
    2. Ops: incremental days until ``seconds`` have passed (at least
       :data:`MIN_DAYS`): each lands a seeded delta (SCD-1 updates plus new events,
       users and items) and runs the same sequence.
    3. Reads: the BI client refreshes a dashboard over the published
       warehouse; each refresh applies the next of the seeded period
       slicers and collects all six KPI views, :data:`REFRESHES`
       refreshes in all. One read is one refresh.
    """
    spark = run.spark
    t0 = time.time()
    src = gen.EventSource(run.seed, N_EVENTS, N_USERS, N_ITEMS, DELTA_SHARE)
    base_dir = run.path("source", "day0")
    run.add_input(*src.write_base(base_dir))
    warehouse = run.path("warehouse")
    export_dir = os.path.join(warehouse, "bi_export")
    run.layer["setup.inputs_s"] = time.time() - t0

    def check(day_name, event_rows):
        oracle = checks.kpi_oracle(src.arrow_events(), src.arrow_part())
        run.verdict(
            day_name,
            checks.check_warehouse_day(warehouse, src, event_rows)
            + checks.check_manifest(export_dir, oracle),
        )

    with run.tracer.span("bootstrap") as boot:
        _run_day(run, base_dir, warehouse)
    run.setup_s += time.time() - t0
    run.layer["setup.load_s"] = run.detail["bootstrap_s"] = boot.wall
    check("bootstrap", N_EVENTS)

    source_bytes = gen.file_bytes(base_dir)
    written, delta_rows = [], 0
    day = 0
    measure0 = time.time()
    while day < MIN_DAYS or time.time() - measure0 < run.seconds:
        day += 1
        delta = src.land_delta(day, run.path("source", f"day{day}"))
        run.add_input(delta.rows, delta.bytes)
        source_bytes += delta.bytes
        delta_rows += delta.rows
        with run.tracer.span("cycle") as cyc:
            _run_day(run, delta.source_dir, warehouse)
        rows, nbytes = written_since([warehouse], cyc.start)
        written.append((rows / delta.rows, nbytes / delta.bytes))
        check(f"day {day}", delta.event_rows)

    windows = gen.slicer_windows(run.seed, gen.BASE_DAYS + day)
    events, part = src.arrow_events(), src.arrow_part()
    oracles: dict[int, dict] = {}
    reads: dict[str, list[Span]] = {v: [] for v in checks.KPI_VIEWS}
    for r in range(REFRESHES):
        w = r % len(windows)
        results = {}
        with run.tracer.span("refresh"):
            with run.tracer.span("slicer"):
                _apply_slicer(spark, windows[w])
            for v in checks.KPI_VIEWS:
                with run.tracer.span(v) as s:
                    df = spark.table(v)
                    results[v] = (df.columns, df.collect())
                reads[v].append(s)
        if w not in oracles:
            oracles[w] = checks.kpi_oracle(events, part, windows[w])
        for v, (cols, rows) in results.items():
            run.verdict(f"{v} window {w}", checks.compare_rows(cols, rows, oracles[w][v]))

    cycles = run.tracer.named("cycle")
    refreshes = run.tracer.named("refresh")
    read_spans = [s for xs in reads.values() for s in xs]
    run.phases(
        ops=[c.wall for c in cycles],
        reads=[s.wall for s in refreshes],
        items=delta_rows,
        busy=sum(c.wall for c in cycles),
        overhead=[run.tracer.self_time(c) for c in cycles],
        written=written,
    )
    run.layer["stored_bytes_per_input_byte"] = gen.file_bytes(warehouse) / source_bytes

    stage_names = list(pipeline.PIPELINE_STAGES) + ["publish_catalog", "export_bi"]
    in_cycles = {s.id for c in cycles for s in run.tracer.spans if s.parent == c.id}
    for name in stage_names:
        walls = [s.wall for s in run.tracer.named(name) if s.id in in_cycles]
        run.detail[f"pipeline.{name}_s"] = statistics.median(walls)
    run.detail["cycle_s"] = statistics.median(c.wall for c in cycles)
    run.detail["query_p80_s"] = statistics.quantiles(
        [s.wall for s in read_spans], n=10, method="inclusive"
    )[7]
    for v, xs in reads.items():
        run.detail[f"marketing.{v}_p50_s"] = statistics.median(s.wall for s in xs)
    run.detail["marketing.slicer_p50_s"] = statistics.median(
        s.wall for s in run.tracer.named("slicer")
    )

    def stage_spans(name):
        return [s for s in run.tracer.named(name) if s.id in in_cycles]

    tracer = run.tracer
    run.spark_families = {
        "load": lambda log: log.span_rows(tracer, [boot]),
        "op": lambda log: log.span_rows(tracer, cycles),
        "read": lambda log: log.span_rows(tracer, refreshes),
    } | {
        name: (lambda log, name=name: log.span_rows(tracer, stage_spans(name)))
        for name in ("f_events", "d_event", "export_bi")
    }


# ---------------------------------------------------------------------------
# dedup_stream
# ---------------------------------------------------------------------------

def _stage_file(table, src_dir: str, i: int, mtime: float) -> int:
    """Land one micro-batch file atomically with an ascending mtime
    (the file source orders by it); returns its size."""
    dst = os.path.join(src_dir, f"batch{i:05d}.parquet")
    tmp = os.path.join(os.path.dirname(src_dir), f".staging{i:05d}.parquet")
    pq.write_table(table, tmp)
    os.utime(tmp, (mtime, mtime))
    os.replace(tmp, dst)
    return os.path.getsize(dst)


def _versioned_stats(path: str) -> tuple[int, int]:
    files = sum(
        1
        for _r, _d, fs in os.walk(os.path.join(path, "data"))
        for f in fs
        if f.endswith(".parquet")
    )
    return len(vt.table_versions(path)), files


def _snapshot(path: str, version: int | None, columns) -> pd.DataFrame:
    """A committed version (None: the latest) of a versioned table, read
    with pyarrow from the prefixes its manifest names."""
    return pd.concat(
        [
            pq.read_table(os.path.join(path, p), columns=columns).to_pandas()
            for p in vt.snapshot_prefixes(path, version)
        ],
        ignore_index=True,
    )


def dedup_stream(run: Run) -> None:
    """The two streaming dedup gates and a consumer of their decisions.

    1. Load: seed the MinHash signature store of the document store;
       train the IVF-PQ index once and commit its codes and vectors.
    2. Ops: rounds until ``seconds`` have passed (at least one); each
       lands :data:`BATCHES_PER_ROUND` document and embedding batches
       and drives each gate until caught up. One op is the i-th
       document batch plus the i-th embedding batch, timed by the
       gates' ``batch_secs`` hook.
    3. Reads: an incremental consumer syncs from a gate's decision
       table the decisions one commit added, through the change feed
       between consecutive versions, cycling over both gates and all
       their commits: :data:`CHANGE_READS` reads after one untimed
       pass.
    """
    spark = run.spark
    t0 = time.time()
    stream = gen.DedupStream(run.seed, DEDUP_STORE, DEDUP_BATCH)
    for name, table in (("store_docs", stream.store_docs), ("store_embs", stream.store_embs)):
        pq.write_table(table, run.path(f"{name}.parquet"))
        run.add_input(table.num_rows, os.path.getsize(run.path(f"{name}.parquet")))
    store, index = run.path("mh_store"), run.path("ivf_index")
    dec_mh, dec_se = run.path("mh_decisions"), run.path("se_decisions")
    ckpt_mh, ckpt_se = run.path("mh_ckpt"), run.path("se_ckpt")
    src_mh, src_se = run.path("mh_src"), run.path("se_src")
    os.makedirs(src_mh)
    os.makedirs(src_se)
    run.layer["setup.inputs_s"] = time.time() - t0
    timings = {}

    def timed(name, fn, *args, **kw):
        s = time.time()
        out = fn(*args, **kw)
        timings[name] = time.time() - s
        return out

    def seed_minhash():
        docs = spark.read.parquet(run.path("store_docs.parquet"))
        sigs = dedup_ops.minhash_signatures(docs).withColumnRenamed("id", "doc_id")
        timed("dedup.store_seed_s", vt.write_version, sigs, store)

    def seed_semantic():
        embs = spark.read.parquet(run.path("store_embs.parquet"))
        cent, books = timed(
            "similarity.train_index_s", similarity.train_ivf_pq_index, embs, train_iters=2
        )
        s = time.time()
        similarity.save_ivf_pq_index(spark, cent, books, index)
        similarity.build_ivf_pq_codes(spark, embs, index, index=(cent, books))
        vt.write_version(embs, f"{index}/vectors")
        timings["similarity.build_codes_s"] = time.time() - s

    # The two stores are independent; seed them side by side, as the
    # engine's own streaming smokes do. The threads inherit the span.
    with run.tracer.span("seed") as seed:
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [pool.submit(inheritable(f)) for f in (seed_minhash, seed_semantic)]
            for f in futures:
                f.result()
    run.setup_s += time.time() - t0
    run.layer["setup.load_s"] = seed.wall
    run.detail.update(timings)

    gates = {
        "minhash": (src_mh, dec_mh, ckpt_mh, "doc_id", streaming.run_streaming_minhash_dedup,
                    store),
        "semantic": (src_se, dec_se, ckpt_se, "vec_id", streaming.run_streaming_semantic_dedup,
                     index),
    }
    batches = {"minhash": [], "semantic": []}
    batch_secs = {"minhash": [], "semantic": []}
    overhead, written = [], []
    mtime = time.time() - 10_000
    measure0 = time.time()
    n_files = 0
    while n_files == 0 or time.time() - measure0 < run.seconds:
        round_start = time.time()
        in_rows = in_bytes = 0
        for _ in range(BATCHES_PER_ROUND):
            doc_b, emb_b = stream.next_batches()
            for b, d in ((doc_b, src_mh), (emb_b, src_se)):
                nbytes = _stage_file(b.table, d, n_files, mtime + n_files)
                run.add_input(b.table.num_rows, nbytes)
                in_rows += b.table.num_rows
                in_bytes += nbytes
            batches["minhash"].append(doc_b)
            batches["semantic"].append(emb_b)
            n_files += 1
        outside = 0.0
        for gate, (src, dec, ckpt, _id, fn, target) in gates.items():
            secs = []
            with run.tracer.span(f"{gate}_gate") as s:
                fn(spark, src, target, dec, checkpoint_dir=ckpt, batch_secs=secs)
            batch_secs[gate].append(secs)
            outside += s.wall - sum(secs)
        overhead.append(outside)
        rows, nbytes = written_since(
            [store, index, dec_mh, dec_se, ckpt_mh, ckpt_se], round_start
        )
        written.append((rows / in_rows, nbytes / in_bytes))

    decided = 0
    for gate, (_src, dec, _ckpt, id_col, _fn, _t) in gates.items():
        decisions = _snapshot(dec, None, [id_col, "keep"])
        decided += len(decisions)
        per_batch, recall = checks.check_gate(decisions, id_col, batches[gate])
        for i, problems in enumerate(per_batch):
            run.verdict(f"{gate} batch {i}", problems)
        run.detail[f"gate.{gate}.reject_ratio"] = float((~decisions["keep"]).mean())
        run.detail[f"gate.{gate}.near_recall"] = recall
        flat = [x for xs in batch_secs[gate] for x in xs]
        run.detail[f"{gate}_batch_p50_s"] = statistics.median(flat)
        calls = run.tracer.named(f"{gate}_gate")
        run.detail[f"streaming.{gate}_trigger_overhead_s"] = statistics.median(
            c.wall - sum(xs) for c, xs in zip(calls, batch_secs[gate])
        )

    # Each read is an incremental consumer's sync: the decisions one
    # commit added, from the change feed between consecutive versions.
    syncs = [
        (gate, lo, hi)
        for gate, g in gates.items()
        for lo, hi in zip(vt.table_versions(g[1]), vt.table_versions(g[1])[1:])
    ]
    read_spans = []
    # One untimed pass over the syncs first: the first reads of a run
    # are up to 50% slower while the read path warms up.
    for r in range(-len(syncs), CHANGE_READS):
        gate, lo, hi = syncs[r % len(syncs)]
        _src, dec, _ckpt, id_col, _fn, _t = gates[gate]
        with run.tracer.span("sync") as s:
            rows = (
                vt.change_feed(spark, dec, [id_col], lo, hi)
                .where("change_type = 'insert'").select(id_col, "keep").collect()
            )
        if r >= 0:
            read_spans.append(s)
        old = _snapshot(dec, lo, [id_col])
        new = _snapshot(dec, hi, [id_col, "keep"])
        run.verdict(
            f"{gate} sync v{lo}->v{hi}",
            checks.check_added(rows, new[~new[id_col].isin(old[id_col])], id_col),
        )

    # One op: the i-th document batch and the i-th embedding batch.
    pairs = list(zip(*([x for xs in batch_secs[g] for x in xs] for g in gates)))
    run.phases(
        ops=[sum(p) for p in pairs],
        reads=[s.wall for s in read_spans],
        items=decided,
        busy=sum(c.wall for g in gates for c in run.tracer.named(f"{g}_gate")),
        overhead=overhead,
        written=written,
    )
    input_bytes = run.inputs["bytes"]
    run.layer["stored_bytes_per_input_byte"] = (
        sum(gen.file_bytes(p) for p in (store, index, dec_mh, dec_se)) / input_bytes
    )
    for kind, paths in (("store", (store, f"{index}/codes")), ("decisions", (dec_mh, dec_se))):
        stats = [_versioned_stats(x) for x in paths]
        run.detail[f"versioned.{kind}_versions"] = sum(v for v, _ in stats)
        run.detail[f"versioned.{kind}_files"] = sum(f for _, f in stats)

    tracer = run.tracer
    calls = {g: run.tracer.named(f"{g}_gate") for g in gates}

    def gate_rows(log, gate):
        return log.stream_rows(calls[gate], batch_secs[gate])

    run.spark_families = {
        "load": lambda log: log.span_rows(tracer, [seed]),
        "op": lambda log: [
            {k: a[k] + b[k] for k in a}
            for a, b in zip(gate_rows(log, "minhash"), gate_rows(log, "semantic"))
        ],
        "read": lambda log: log.span_rows(tracer, read_spans),
    } | {
        f"{g}_batch": (lambda log, g=g: gate_rows(log, g)) for g in gates
    }


WORKLOADS = {
    "daily_etl": daily_etl,
    "dedup_stream": dedup_stream,
}

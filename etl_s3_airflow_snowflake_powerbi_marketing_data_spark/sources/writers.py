"""Sinks (reference ops S3/S4/S5/S8, SURVEY.md §2.1).

The reference materializes every intermediate to a warehouse table; in
Spark only *named outputs* materialize — intermediates stay lazy plan
nodes (the laziness IS the pipeline fusion). Writers here cover the
named-output cases: full replace, anonymous staging (temp view), and
partitioned curated output for partition-pruned downstream reads.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_full_replace(df: DataFrame, path: str) -> None:
    """S3 — daily full-replace persist (`etl_s3_snowflake_raw_event_ingest.py:51-54`)."""
    df.write.mode("overwrite").parquet(path)


def write_partitioned(
    df: DataFrame, path: str, partition_by: Sequence[str]
) -> None:
    """Curated write partitioned by a pruning key (e.g. event date):
    downstream daily queries read one partition, not the table — the
    single biggest scan win at 100 TB."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def stage_temp_view(df: DataFrame, name: str) -> None:
    """S4 — anonymous/named staging without materialization
    (`etl_s3_snowflake_d_event.py:64-66` writes a real temp table; a
    Spark temp view is the zero-copy equivalent)."""
    df.createOrReplaceTempView(name)


def drop_temp_views(spark: SparkSession, names: Sequence[str]) -> None:
    """S8 — cleanup (`aql.cleanup()`); temp views are session-scoped so
    this is bookkeeping, not storage reclamation."""
    for name in names:
        spark.catalog.dropTempView(name)


def create_table_ddl(
    spark: SparkSession,
    name: str,
    schema_ddl: str,
    location: str | None = None,
) -> None:
    """S5 — declared-schema table DDL, the reference's
    ``CREATE OR REPLACE TABLE`` (`etl_s3_snowflake_d_event.py:33-42`):
    the CATALOG carries the fixed schema, not just the files.

    Spark's v1 session catalog has no ``CREATE OR REPLACE TABLE``, so
    replace = drop + create (same observable semantics: the declared
    schema wins, prior registration is gone). With ``location`` the
    table is external over existing parquet — registration without a
    data copy; without it, a managed table under the warehouse dir.
    """
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE TABLE {name} ({schema_ddl}) USING parquet{loc}")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: Sequence[str],
    n_buckets: int,
    path: str,
    sort_by: Sequence[str] | None = None,
) -> None:
    """Bucketed managed table: pre-shuffles data into ``n_buckets``
    hash buckets on the join/agg key at WRITE time, so every later join
    or aggregation between tables bucketed the same way runs with NO
    exchange — the single biggest repeated-join win at 100 TB (pay the
    shuffle once, amortize it over every downstream query).

    ``sort_by`` additionally sorts within buckets, upgrading co-located
    joins to zero-sort sort-merge joins.
    """
    writer = (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *bucket_by)
    )
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table_name)


def write_orc_replace(df: DataFrame, path: str) -> None:
    """Full-replace ORC persist — the parquet writer's contract on the
    other columnar at-rest format (warehouse-export interop)."""
    df.write.mode("overwrite").orc(path)


def write_jsonl_replace(df: DataFrame, path: str) -> None:
    """Full-replace JSON-lines persist — the interchange format for
    document corpora between training-data pipelines; read back with
    :func:`readers.read_json` and an EXPLICIT schema (inference over
    JSONL at 100 TB costs a full extra pass)."""
    df.write.mode("overwrite").json(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    max_records_per_file: int = 100_000,
    shuffle_col: str | None = None,
) -> dict:
    """Export a prepared corpus as size-bounded parquet shards plus a
    ``manifest.json`` — the handoff format an LLM dataloader consumes
    (the WebDataset posture: fixed-size shards a loader can assign to
    workers without listing or footer-reading the whole dataset).

    ``maxRecordsPerFile`` bounds every shard; with ``shuffle_col`` the
    rows are range-partitioned on it first (pass a deterministic
    position — e.g. ``sampling.corpus_shuffle``'s output — so shard
    membership is reproducible across runs; never ``rand()``). The
    manifest records per-shard row counts read from the parquet
    FOOTERS (metadata-only, no data scan) and the schema, so a loader
    can size epochs and split work without opening a single shard.

    Returns the manifest dict (also written to ``path/_manifest.json``
    — the underscore prefix keeps it invisible to Spark/Hadoop scans of
    the shard directory, like ``_SUCCESS``).
    """
    import json as _json  # noqa: PLC0415
    import os as _os  # noqa: PLC0415

    writer = df
    if shuffle_col is not None:
        writer = df.repartitionByRange(shuffle_col).sortWithinPartitions(
            shuffle_col
        )
    (
        writer.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .parquet(path)
    )
    import pyarrow.parquet as _pq  # noqa: PLC0415

    shards = []
    for name in sorted(_os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = _pq.ParquetFile(_os.path.join(path, name)).metadata
        shards.append({"file": name, "rows": md.num_rows})
    manifest = {
        "format": "parquet",
        "max_records_per_file": max_records_per_file,
        "n_shards": len(shards),
        "total_rows": sum(sh["rows"] for sh in shards),
        "schema": df.schema.jsonValue(),
        "shards": shards,
    }
    with open(_os.path.join(path, "_manifest.json"), "w") as fh:
        _json.dump(manifest, fh, indent=1)
    return manifest


def write_sorted_replace(
    df: DataFrame,
    path: str,
    sort_cols: Sequence[str],
    n_files: int | None = None,
) -> None:
    """Full-replace write with a RANGE-CLUSTERED layout: rows are
    range-partitioned then sorted within partitions on ``sort_cols``,
    so each output file covers a disjoint slice of the sort key's
    domain and every file/row-group footer carries tight min/max stats.

    This is the poor-man's Z-order for the 1-D case — the layout step
    that turns parquet's stats-based row-group skipping from "usually
    useless" (random layout → every file's min/max spans the domain)
    into "reads only the matching slice" for range predicates on the
    cluster key. Pure Spark: `repartitionByRange` (sampled, balanced
    ranges) + `sortWithinPartitions`; the disjointness is asserted
    from real parquet footers in tests/test_sources.py.

    ``n_files`` pins the range count explicitly — an unpinned range
    exchange is fair game for AQE coalescing on small inputs, which
    would fold the clustering into one file.
    """
    n = n_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    (
        df.repartitionByRange(n, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zorder_replace(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 10,
    n_files: int | None = None,
) -> None:
    """Full-replace write with a MULTI-dimensional Z-ORDER layout: each
    clustering column is bucketed into 2^``bits`` equal-width cells,
    the per-column cell indexes are bit-interleaved into one Morton
    (Z-curve) key, and rows are range-partitioned + sorted on that key.

    ``write_sorted_replace`` makes file-level min/max stats tight on
    ONE column; sorting on a second column is useless for skipping (its
    per-file range spans the whole domain). The Z-curve trades a little
    per-column tightness for locality in EVERY clustering column: a
    file covering a contiguous Z range covers a small hyper-rectangle,
    so box predicates on ANY subset of the clustering columns skip most
    files — the same layout contract as Delta Lake's OPTIMIZE ZORDER
    BY, on plain parquet.

    Plan shape: one bounds aggregate (min/max per column, map-side
    combined; collected — O(columns) driver data), then the Z key is a
    pure bit-twiddling projection inside whole-stage codegen feeding
    ``repartitionByRange`` + ``sortWithinPartitions``. The Z column
    itself is never written — it exists only as the layout expression.
    At 100 TB this is one extra pass over the table being laid out,
    the same cost class as any clustering rewrite.

    The layout never changes query RESULTS (same rows, different file
    placement) — correctness holds trivially; effectiveness (per-file
    footer ranges tight on every clustering column) is asserted from
    real parquet footers in tests/test_sources.py.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    if not 2 <= len(zorder_cols) <= 4:
        raise ValueError("zorder needs 2-4 columns (1 -> write_sorted_replace)")
    if not 4 <= bits <= 16:
        raise ValueError(f"bits={bits} outside [4, 16]")
    ncols = len(zorder_cols)
    cells = (1 << bits) - 1
    bounds = df.agg(
        *[F.min(c).alias(f"mn_{i}") for i, c in enumerate(zorder_cols)],
        *[F.max(c).alias(f"mx_{i}") for i, c in enumerate(zorder_cols)],
    ).collect()[0]

    def cell(i: int, c: str):
        mn = float(bounds[f"mn_{i}"])
        mx = float(bounds[f"mx_{i}"])
        if mx <= mn:
            return F.lit(0).cast("bigint")
        scaled = (F.col(c).cast("double") - F.lit(mn)) / F.lit(mx - mn)
        return F.least(
            F.floor(scaled * F.lit(cells + 1)).cast("bigint"), F.lit(cells)
        )

    z = F.lit(0).cast("bigint")
    for i, c in enumerate(zorder_cols):
        cc = cell(i, c)
        for b in range(bits):
            z = z + F.shiftleft(
                F.getbit(cc, F.lit(b)).cast("bigint"), b * ncols + i
            )
    n = n_files or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    (
        df.repartitionByRange(n, z)
        .sortWithinPartitions(z)
        .write.mode("overwrite")
        .parquet(path)
    )

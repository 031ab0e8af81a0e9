"""Row-level transform operators (reference ops P1-P9, SURVEY.md §2.2).

The reference runs these in single-node pandas (rename, json.loads per
row, json_normalize, drop_duplicates, positional zip-join). Here every
one is a narrow, Catalyst-visible DataFrame expression:

- JSON parse + flatten is ``from_json`` + ``payload.*`` — vectorized
  JVM-side, no UDF, and no positional re-join (the reference's zip-join
  P8 only exists because ``pd.json_normalize`` returns a detached frame;
  ``from_json`` keeps rows aligned in one pass).
- Dedup-keep-first is made *deterministic* (the reference relies on
  pandas load order) by ranking within key on an explicit ordering —
  a single hash shuffle on the key, map-side-combinable at scale.

Reference citations: rename `etl_s3_snowflake_raw_event_ingest.py:28`,
json parse `:30`, flatten `etl_s3_snowflake_f_events.py:30`, dedup
`etl_s3_snowflake_d_event.py:26`, sort `etl_s3_snowflake_f_events.py:36`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Schema of the reference's event payload (README.md:37-41); the driver's
# synthetic `events.props` column uses {"k": int} instead.
EVENT_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("event_name", T.StringType()),
        T.StructField("platform", T.StringType()),
        T.StructField("parameter_name", T.StringType()),
        T.StructField("parameter_value", T.StringType()),
    ]
)

PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType())])


def normalize_id_to_long(col: Column | str, dtype: str = "string") -> Column:
    """Snowflake-compatible id normalization (SURVEY.md §1.2): the
    reference's item source carries float-FORMATTED text ids
    (`item.csv:2` ``"2512.0"``) while events carry plain ints
    (`event.csv:2` ``"3526"``), and its KPI join
    (`etl_s3_snowflake_aggregated_views.py:31`) works only because
    Snowflake implicitly coerces VARCHAR→NUMBER, so ``'2512.0' = 2512``.

    Spark's direct ``CAST('2512.0' AS BIGINT)`` is NULL — silently
    unjoining every float-formatted id. Route string ids through
    DECIMAL first (exact, unlike DOUBLE, for 38-digit ids): text that
    Snowflake would coerce lands on the same integer here. Non-string
    inputs take a plain long cast — no decimal detour in the plan.
    """
    c = F.col(col) if isinstance(col, str) else col
    if dtype == "string":
        return c.cast("decimal(38,9)").cast("long")
    return c.cast("long")


def rename_columns(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P1 — bulk column rename (e.g. ``event.payload`` → ``event_payload``)."""
    return df.withColumnsRenamed(mapping)


def parse_json_column(
    df: DataFrame, column: str, schema: T.StructType, parsed_name: str | None = None
) -> DataFrame:
    """P2 — JSON string column → struct column, vectorized via ``from_json``.

    Replaces the reference's per-row ``map(json.loads)`` (a Python loop);
    ``from_json`` runs inside whole-stage codegen.
    """
    return df.withColumn(parsed_name or column, F.from_json(F.col(column), schema))


def parse_json_variant(
    df: DataFrame, column: str, parsed_name: str | None = None
) -> DataFrame:
    """P2 (VARIANT form) — JSON string column → open-schema ``VARIANT``
    column, the literal mapping of the reference's Snowflake storage
    (``Snowflake_tables/event_raw.png`` line 5: ``EVENT_PAYLOAD
    VARIANT``). ``try_parse_json`` is the Snowflake semantic: malformed
    JSON yields NULL, never a failed job.

    The engine's default path stays ``from_json`` into a fixed struct
    (:func:`parse_json_column`) — a declared schema gives Catalyst
    field pruning and codegen field access, which an open variant
    cannot. Use this form when the payload schema is genuinely unknown
    or evolving; read fields with ``variant_get(col, '$.path', type)``.
    """
    return df.withColumn(
        parsed_name or column, F.try_parse_json(F.col(column))
    )


def variant_field(col: Column | str, path: str, dtype: str) -> Column:
    """Typed field extraction from a VARIANT column —
    ``variant_get(v, '$.field', 'type')``, the Snowflake ``v:field::type``
    analog."""
    c = F.col(col) if isinstance(col, str) else col
    return F.variant_get(c, path, dtype)


def flatten_struct(df: DataFrame, column: str, drop_struct: bool = True) -> DataFrame:
    """P3 — one output column per struct field (``pd.json_normalize`` analog)."""
    out = df.select("*", f"{column}.*")
    return out.drop(column) if drop_struct else out


def project(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P4 — keep a column subset. Catalyst prunes the parquet scan to match."""
    return df.select(*columns)


def drop_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """P5 — drop columns."""
    return df.drop(*columns)


def dedup_keep_first(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
) -> DataFrame:
    """P6 — one survivor per key.

    With ``order_by`` the survivor is deterministic (rank-1 within key);
    without, falls back to ``dropDuplicates`` (arbitrary survivor, like
    pandas' load-order ``keep='first'``). The windowed path is one hash
    shuffle on ``keys``; no global sort.
    """
    if order_by is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def parse_raw_event_time(col: Column | str) -> Column:
    """Parse the reference's RAW event_time text — ``M/D/YYYY H:MM``
    with no zero padding (`event.csv:2` ``6/26/2017 11:23``;
    README.md:34 documents the column as text) — into a proper
    timestamp, the typing step the reference performs inside its fact
    build (pandas ``to_datetime`` in `etl_s3_snowflake_f_events.py`).

    Single-digit month/day/hour need the single-letter pattern
    (``M/d/yyyy H:mm``); ``try_to_timestamp`` turns a malformed value
    into NULL so a dead-letter filter can route it — never a job abort
    mid-load at scale (plain ``to_timestamp`` raises under ANSI mode,
    the Spark 4 default).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_timestamp(c, F.lit("M/d/yyyy H:mm"))

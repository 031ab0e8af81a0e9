"""The reference pipeline re-expressed on the driver's synthetic tables.

Mapping (FIXTURES.md §4): the synthetic ``events`` table plays
``event_raw`` (``event_type`` ↔ payload.event_name/platform, ``props``
↔ the JSON payload, ``props.k`` ↔ parameter_value/item id) and ``part``
plays ``items``/``d_item`` (``p_partkey`` ↔ item_id). The synthetic data
spans one month, so the reference's ``YEAR(event_time)`` becomes
``to_date(ts)`` — same date-part-extraction + groupBy operator class
(Q4), non-degenerate grouping.

Star-schema builds mirror SURVEY.md §2.2 (P1-P9) and the four KPI views
mirror `etl_s3_snowflake_aggregated_views.py` (Q1-Q13):

1. ``view_count_by_period``      ↔ yearly_item_view_count        (:22-35)
2. ``item_view_rank_by_period``  ↔ item_view_based_on_particular_year (:37-52)
3. ``most_viewed_item_latest_period`` ↔ most_viewed_item_based_on_most_recent_year (:55-72)
4. ``top_event_type_by_period``  ↔ most_used_platform_in_particular_year (:75-92)

Scale notes: the fact→dim join broadcasts the dim (2K rows); the
period aggregations are map-side-combinable counts; the dense_rank
windows partition by period (bounded cardinality, no single-partition
stage). Surrogate keys use ``keys.ordered_surrogate_key`` — exact
global numbering with a range-partitioned shuffle plus per-partition
offsets, never an all-rows-on-one-task window.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.keys import ordered_surrogate_key
from ..operators.transforms import (
    PROPS_SCHEMA,
    normalize_id_to_long,
    parse_json_column,
)
from ..tables import load_table

VIEW_EVENT = "view"  # plays the reference's WHERE event_name = 'view_item'


# ---------------------------------------------------------------------------
# Star-schema builds (dims + fact)
# ---------------------------------------------------------------------------

def _flat_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared parse/flatten chain: payload JSON → typed columns, inside
    codegen (``from_json``), no pandas detour."""
    events = load_table(spark, sf_dir, "events")
    parsed = parse_json_column(events, "props", PROPS_SCHEMA, "props_parsed")
    return parsed.select(
        "event_id", "ts", "user_id", "event_type", "value",
        F.col("props_parsed.k").alias("item_key"),
    )


def build_event_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw ingest: parse payload JSON, assign raw surrogate key.

    ↔ `etl_s3_snowflake_raw_event_ingest.py:25-33` (rename → json.loads →
    1-based index), minus the pandas detour: one lazy chain, payload
    parsed by ``from_json`` inside codegen.

    Deliberate deviation, documented: the reference's raw layer stores
    EVENT_TIME as *string* and only the fact build casts it
    (`etl_s3_snowflake_f_events.py:54`); here the raw layer is typed at
    ingest. Staging text timestamps buys nothing in Spark (the cast is
    free either way) and costs every raw-layer consumer a re-parse.
    """
    flat = _flat_events(spark, sf_dir)
    return ordered_surrogate_key(flat, "guid_event_raw", order_by=["event_id"])


@dataclass(frozen=True)
class SurrogateKey:
    """A build's guid column and the order that numbers it (P7).

    Each guid-keyed build is its un-keyed rows plus this key, so a
    caller that renumbers rows itself (the daily MERGE continues after
    the warehouse max) takes the rows without paying for a numbering it
    would throw away."""

    name: str
    order_by: tuple[str, ...]
    descending: bool = False

    def assign(self, rows: DataFrame) -> DataFrame:
        return ordered_surrogate_key(
            rows, self.name, order_by=list(self.order_by), descending=self.descending
        )


D_EVENT_KEY = SurrogateKey("guid_event", ("event_id",))
D_USER_KEY = SurrogateKey("guid_user", ("user_id",))
D_PARAMETER_KEY = SurrogateKey("guid_parameter", ("parameter_name",))
# Newest-first, id tiebreak (`etl_s3_snowflake_f_events.py:36`).
F_EVENTS_KEY = SurrogateKey("guid_event", ("event_time", "event_id"), descending=True)


def d_event_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event dim rows before the guid: distinct event ids."""
    return load_table(spark, sf_dir, "events").select("event_id").distinct()


def build_d_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event dim: distinct event ids + contiguous guid.

    ↔ `etl_s3_snowflake_d_event.py:24-30` (drop_duplicates on event_id →
    range index). Deterministic survivor: keys are already unique per
    row; ordering by the key itself pins guid assignment.
    """
    return D_EVENT_KEY.assign(d_event_rows(spark, sf_dir))


def d_user_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select("user_id").distinct()


def build_d_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User dim ↔ `etl_s3_snowflake_d_user.py:28-34`."""
    return D_USER_KEY.assign(d_user_rows(spark, sf_dir))


def d_parameter_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("parameter_name")
    ).distinct()


def build_d_parameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter dim (event_type plays parameter_name)
    ↔ `etl_s3_snowflake_d_parameter.py:24-36`."""
    return D_PARAMETER_KEY.assign(d_parameter_rows(spark, sf_dir))


def build_d_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item dim: prefixed renames of the item source table
    ↔ `etl_s3_snowflake_d_item.py:24-29` (column-prefix renames; the
    float-text id is normalized to long at build time per SURVEY §1.2 —
    ``normalize_id_to_long`` handles the ``"2512.0"``-style text ids the
    reference relies on Snowflake to coerce; the synthetic key is
    already numeric so it takes the plain-cast path)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        normalize_id_to_long(
            "p_partkey", part.schema["p_partkey"].dataType.simpleString()
        ).alias("item_id"),
        F.col("p_name").alias("item_name"),
        F.col("p_brand").alias("item_brand"),
        F.col("p_type").alias("item_type"),
        F.col("p_size").cast("int").alias("item_size"),
        F.col("p_retailprice").alias("item_price"),
    )


def f_events_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact rows before the guid: renames + item-key normalization to
    long (the VARCHAR-coercion fix, SURVEY.md §1.2 — float-formatted
    text ids parse via the decimal path instead of silently nulling)."""
    flat = _flat_events(spark, sf_dir)
    return flat.select(
        "event_id",
        F.col("ts").alias("event_time"),
        F.col("user_id").alias("event_user_id"),
        F.col("event_type").alias("event_name"),
        F.col("value").alias("event_value"),
        normalize_id_to_long(
            "item_key", flat.schema["item_key"].dataType.simpleString()
        ).alias("event_parameter_value"),
    )


def build_f_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact build: payload flatten + item-key normalization + sort + guid.

    ↔ `etl_s3_snowflake_f_events.py:22-44`. The reference's positional
    zip-join (P8) disappears — ``from_json`` keeps the flattened payload
    columns aligned with the row. Sorted newest-first, then guid over
    that order via the range-partitioned two-pass numbering (no
    single-partition stage even on the full fact).
    """
    return F_EVENTS_KEY.assign(f_events_rows(spark, sf_dir))


# ---------------------------------------------------------------------------
# KPI views (the golden queries)
# ---------------------------------------------------------------------------

def _filtered_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared CTE: FILTERED_EVENTS AS (SELECT * FROM f_events WHERE
    event_name = 'view_item') ↔ `etl_s3_snowflake_aggregated_views.py:27-28`.

    Built from the un-keyed rows, not ``build_f_events``: none of the KPI
    views read ``guid_event``, so recomputing the numbering (its count
    branch + bucket join) would be dead weight Catalyst cannot fully
    prune. Against a materialized f_events table this is just a scan.
    """
    return f_events_rows(spark, sf_dir).filter(F.col("event_name") == VIEW_EVENT)


def view_count_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view 1 ↔ yearly_item_view_count (:22-35): filter → join dim →
    date-part → count → order desc. The dim join broadcasts."""
    fact = _filtered_fact(spark, sf_dir)
    dim = build_d_item(spark, sf_dir)
    return (
        fact.join(
            F.broadcast(dim),
            fact.event_parameter_value == dim.item_id,
            "inner",
        )
        .groupBy(F.date_trunc("day", "event_time").alias("period"))
        .agg(F.count("event_time").alias("item_view"))
        .orderBy(F.col("period").desc())
    )


def item_view_rank_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view 2 ↔ item_view_based_on_particular_year (:37-52):
    two-key groupBy + dense_rank over the aggregate within period."""
    fact = _filtered_fact(spark, sf_dir)
    dim = build_d_item(spark, sf_dir)
    counts = (
        fact.join(F.broadcast(dim), fact.event_parameter_value == dim.item_id, "inner")
        .groupBy(F.date_trunc("day", "event_time").alias("period"), F.col("item_name"))
        .agg(F.count("event_time").alias("item_view"))
    )
    w = Window.partitionBy("period").orderBy(F.col("item_view").desc())
    return counts.withColumn(
        "item_view_rank", F.dense_rank().over(w).cast("long")
    ).orderBy("period", "item_view_rank", "item_name")


def most_viewed_item_latest_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view 3 ↔ most_viewed_item_based_on_most_recent_year (:55-72):
    scalar-subquery max period + top-1 (TakeOrderedAndProject).

    Deviation from the reference, documented: ties on the top view count
    are broken by item_name so the result is deterministic (the
    reference's bare ``ORDER BY ITEM_VIEW DESC LIMIT 1`` is not).
    """
    fact = _filtered_fact(spark, sf_dir)
    dim = build_d_item(spark, sf_dir)
    joined = fact.join(
        F.broadcast(dim), fact.event_parameter_value == dim.item_id, "inner"
    ).withColumn("period", F.date_trunc("day", "event_time"))
    max_period = joined.agg(F.max("period").alias("mx"))
    return (
        joined.join(F.broadcast(max_period), F.col("period") == F.col("mx"))
        .groupBy("period", "item_name")
        .agg(F.count("event_time").alias("item_view"))
        .orderBy(F.col("item_view").desc(), F.col("item_name"))
        .limit(1)
    )


def top_event_type_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view 4 ↔ most_used_platform_in_particular_year (:75-92):
    nested CTE → two-key count → dense_rank → keep rank 1.

    ``event_type`` plays the platform column (the synthetic schema folds
    event_name and platform into one field); no event filter so the
    ranking is non-degenerate across all five types.
    """
    events = load_table(spark, sf_dir, "events")
    counts = (
        events.groupBy(
            F.date_trunc("day", "ts").alias("period"), F.col("event_type")
        ).agg(F.count("ts").alias("type_count"))
    )
    w = Window.partitionBy("period").orderBy(
        F.col("type_count").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("type_rank", F.dense_rank().over(w).cast("long"))
        .filter(F.col("type_rank") == 1)
        .orderBy("period", "event_type")
    )


def view_trend_by_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view 5 ↔ the reference's year-over-year-trend business
    question (`README.md:14`), answered there inside Power BI rather
    than a SQL view: period-over-period view counts with LAG delta and
    percent change.

    The LAG window is unpartitioned by necessity (the trend is a global
    ordering over periods) but runs AFTER the aggregation, over one row
    per period — bounded cardinality (#days, #years), never over raw
    events, so the single-partition window stage is O(periods) at any
    input scale.
    """
    fact = _filtered_fact(spark, sf_dir)
    dim = build_d_item(spark, sf_dir)
    counts = (
        fact.join(
            F.broadcast(dim), fact.event_parameter_value == dim.item_id, "inner"
        )
        .groupBy(F.date_trunc("day", "event_time").alias("period"))
        .agg(F.count("event_time").alias("item_view"))
    )
    w = Window.orderBy("period")
    prev = F.lag("item_view").over(w)
    return (
        counts.select(
            "period",
            "item_view",
            prev.alias("prev_view"),
            (F.col("item_view") - prev).alias("view_delta"),
            # floor-truncate instead of round: identical IEEE result in any
            # engine (round ties split HALF_UP vs HALF_EVEN across engines)
            (F.floor((F.col("item_view") - prev) * 100.0 / prev * 1e6) / 1e6).alias(
                "pct_change"
            ),
        )
        # the first period has no prior to compare against; dropping it
        # keeps the result NULL-free (NaN breaks order-insensitive hashing)
        .filter(F.col("prev_view").isNotNull())
        .orderBy("period")
    )


def top_items_view_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPI view 6 ↔ the reference's top-10-item-detail and
    view-share-distribution business questions (`README.md:15-16`),
    answered there inside Power BI: the ten most-viewed items in the
    latest period with each item's share of that period's total views.

    Ranking uses row_number with an item_name tiebreak so exactly ten
    deterministic rows come back (the reference's Power BI top-N has the
    same arbitrary-tie caveat). The share denominator is an unpartitioned
    window sum — over per-item aggregates (bounded by #items), not raw
    events, so it stays O(items) at any input scale.
    """
    fact = _filtered_fact(spark, sf_dir)
    dim = build_d_item(spark, sf_dir)
    joined = fact.join(
        F.broadcast(dim), fact.event_parameter_value == dim.item_id, "inner"
    ).withColumn("period", F.date_trunc("day", "event_time"))
    max_period = joined.agg(F.max("period").alias("mx"))
    counts = (
        joined.join(F.broadcast(max_period), F.col("period") == F.col("mx"))
        .groupBy("period", "item_name")
        .agg(F.count("event_time").alias("item_view"))
    )
    total = F.sum("item_view").over(Window.partitionBy("period"))
    ranked = counts.select(
        "period",
        "item_name",
        "item_view",
        (F.floor(F.col("item_view") * 100.0 / total * 1e6) / 1e6).alias(
            "view_share_pct"
        ),
        F.row_number()
        .over(
            Window.partitionBy("period").orderBy(
                F.col("item_view").desc(), F.col("item_name")
            )
        )
        .cast("long")
        .alias("view_rank"),
    )
    return ranked.filter(F.col("view_rank") <= 10).orderBy("view_rank")


# ---------------------------------------------------------------------------
# View registration (S5/Q13: the catalog-facing contract)
# ---------------------------------------------------------------------------

KPI_BUILDERS = {
    "view_count_by_period": view_count_by_period,
    "item_view_rank_by_period": item_view_rank_by_period,
    "most_viewed_item_latest_period": most_viewed_item_latest_period,
    "top_event_type_by_period": top_event_type_by_period,
}


def register_kpi_views(spark: SparkSession, sf_dir: str) -> None:
    """CREATE OR REPLACE (temp) VIEW for each KPI query ↔ Q13
    (`etl_s3_snowflake_aggregated_views.py:26,41,59,79`). Views stay
    virtual (recomputed on read) exactly like the reference's."""
    for name, builder in KPI_BUILDERS.items():
        builder(spark, sf_dir).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Warehouse-facing SQL view layer (pipeline mode)
# ---------------------------------------------------------------------------

# The same four KPI views as SQL text over the *persisted* warehouse
# tables (f_events / d_item registered in the catalog), mirroring the
# reference's CREATE OR REPLACE VIEW statements one-to-one
# (`etl_s3_snowflake_aggregated_views.py:22-92`): CTE pre-filter, inner
# dim join, date-part groupBy, window-over-aggregate DENSE_RANK, scalar
# subquery for the latest period, top-1 LIMIT, and rank=1 filter.
WAREHOUSE_KPI_SQL: dict[str, str] = {
    "view_count_by_period": """
        CREATE OR REPLACE TEMPORARY VIEW view_count_by_period AS
        WITH filtered_events AS (
          SELECT * FROM f_events WHERE event_name = 'view'
        )
        SELECT date_trunc('day', f.event_time) AS period,
               COUNT(f.event_time) AS item_view
        FROM filtered_events f
        INNER JOIN d_item d ON f.event_parameter_value = d.item_id
        GROUP BY date_trunc('day', f.event_time)
        ORDER BY period DESC
    """,
    "item_view_rank_by_period": """
        CREATE OR REPLACE TEMPORARY VIEW item_view_rank_by_period AS
        WITH filtered_events AS (
          SELECT * FROM f_events WHERE event_name = 'view'
        ),
        counts AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 d.item_name, COUNT(f.event_time) AS item_view
          FROM filtered_events f
          INNER JOIN d_item d ON f.event_parameter_value = d.item_id
          GROUP BY 1, 2
        )
        SELECT period, item_name, item_view,
               CAST(DENSE_RANK() OVER (PARTITION BY period
                    ORDER BY item_view DESC) AS BIGINT) AS item_view_rank
        FROM counts
        ORDER BY period, item_view_rank, item_name
    """,
    "most_viewed_item_latest_period": """
        CREATE OR REPLACE TEMPORARY VIEW most_viewed_item_latest_period AS
        WITH filtered_events AS (
          SELECT * FROM f_events WHERE event_name = 'view'
        ),
        joined AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 d.item_name, f.event_time
          FROM filtered_events f
          INNER JOIN d_item d ON f.event_parameter_value = d.item_id
        )
        SELECT period, item_name, COUNT(event_time) AS item_view
        FROM joined
        WHERE period = (SELECT MAX(period) FROM joined)
        GROUP BY period, item_name
        ORDER BY item_view DESC, item_name
        LIMIT 1
    """,
    "top_event_type_by_period": """
        CREATE OR REPLACE TEMPORARY VIEW top_event_type_by_period AS
        WITH counts AS (
          SELECT date_trunc('day', event_time) AS period, event_name,
                 COUNT(event_time) AS type_count
          FROM f_events GROUP BY 1, 2
        ),
        ranked AS (
          SELECT *, CAST(DENSE_RANK() OVER (PARTITION BY period
                    ORDER BY type_count DESC, event_name) AS BIGINT)
                    AS type_rank
          FROM counts
        )
        SELECT period, event_name AS event_type, type_count, type_rank
        FROM ranked WHERE type_rank = 1
        ORDER BY period, event_type
    """,
    # The two Power-BI-layer business questions (README.md:14-16) the
    # reference answers inside the BI tool rather than a warehouse
    # view — SQL twins of view_trend_by_period / top_items_view_share.
    "view_trend_by_period": """
        CREATE OR REPLACE TEMPORARY VIEW view_trend_by_period AS
        WITH filtered_events AS (
          SELECT * FROM f_events WHERE event_name = 'view'
        ),
        counts AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 COUNT(f.event_time) AS item_view
          FROM filtered_events f
          INNER JOIN d_item d ON f.event_parameter_value = d.item_id
          GROUP BY 1
        ),
        t AS (
          SELECT period, item_view,
                 LAG(item_view) OVER (ORDER BY period) AS prev_view
          FROM counts
        )
        SELECT period, item_view, prev_view,
               item_view - prev_view AS view_delta,
               floor((item_view - prev_view) * 100.0 / prev_view * 1e6)
                 / 1e6 AS pct_change
        FROM t WHERE prev_view IS NOT NULL ORDER BY period
    """,
    "top_items_view_share": """
        CREATE OR REPLACE TEMPORARY VIEW top_items_view_share AS
        WITH filtered_events AS (
          SELECT * FROM f_events WHERE event_name = 'view'
        ),
        joined AS (
          SELECT date_trunc('day', f.event_time) AS period,
                 d.item_name, f.event_time
          FROM filtered_events f
          INNER JOIN d_item d ON f.event_parameter_value = d.item_id
        ),
        counts AS (
          SELECT period, item_name, COUNT(event_time) AS item_view
          FROM joined WHERE period = (SELECT MAX(period) FROM joined)
          GROUP BY 1, 2
        ),
        ranked AS (
          SELECT period, item_name, item_view,
                 floor(item_view * 100.0
                       / SUM(item_view) OVER (PARTITION BY period)
                       * 1e6) / 1e6 AS view_share_pct,
                 CAST(ROW_NUMBER() OVER (PARTITION BY period
                      ORDER BY item_view DESC, item_name) AS BIGINT)
                   AS view_rank
          FROM counts
        )
        SELECT * FROM ranked WHERE view_rank <= 10 ORDER BY view_rank
    """,
}


def register_warehouse_kpi_views(spark: SparkSession) -> None:
    """Q13 over the persisted warehouse: plain ``spark.sql`` DDL —
    Spark's ANTLR parse → Catalyst analyze/optimize replaces Snowflake
    wholesale (SURVEY.md §3.3)."""
    for sql in WAREHOUSE_KPI_SQL.values():
        spark.sql(sql)

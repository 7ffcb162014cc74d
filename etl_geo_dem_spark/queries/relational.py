"""Relational operator inventory — SURVEY.md §2.2/2.3/2.4/2.5/2.6/2.7/2.8.

Each query re-expresses one reference operator over the driver's TPC-H-ish
tables, with a DuckDB oracle. Aliases are identical on both sides (the driver
hashes columns by name); float aggregates are rounded at a precision where the
two engines' summation orders cannot diverge.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_geo_dem_spark.queries.registry import register, t

# --------------------------------------------------------------------- filters


@register(
    "filter_case_when_clip",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_quantity >= -999 AND l_quantity <= 25 THEN l_quantity
            ELSE -9999 END AS clipped_qty
FROM lineitem
""",
    tags=("filter", "F4"),
)
def filter_case_when_clip(spark, sf_dir):
    """Per-cell predicate projection — gdal_calc `((A>=-999)*(A<=level))*A +
    (A>level)*-9999` (`pipeline_transform_sea_level.py:729-741`, F4) as
    CASE WHEN."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(
            (F.col("l_quantity") >= -999) & (F.col("l_quantity") <= 25),
            F.col("l_quantity"),
        )
        .otherwise(F.lit(-9999.0))
        .alias("clipped_qty"),
    )


@register(
    "filter_equality_indicator",
    oracle="SELECT p_partkey, CASE WHEN p_type = 'ECONOMY' THEN 1 ELSE 0 END AS is_economy FROM part",
    tags=("filter", "F5", "F6"),
)
def filter_equality_indicator(spark, sf_dir):
    """Feature-equality mask (`np.where(data == feature, 1, nodata)`,
    `pipeline_transform_vrt_gdal.py:309-328`, F5/F6)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.when(F.col("p_type") == "ECONOMY", 1).otherwise(0).alias("is_economy"),
    )


@register(
    "zz_filter_isin_categorical",
    oracle="""
SELECT o_orderpriority, count(*) AS n
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY o_orderpriority
""",
    tags=("filter", "F7"),
)
def filter_isin_categorical(spark, sf_dir):
    """Categorical dict filter (`DataTransformer.filter_tif` feature map,
    `model_pipeline.py:373-400`, F7)."""
    o = t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "filter_group_having_min",
    oracle="""
SELECT l_orderkey, round(min(l_extendedprice), 2) AS min_price
FROM lineitem
GROUP BY l_orderkey
HAVING min(l_extendedprice) < 2000
""",
    tags=("filter", "F8", "A2"),
)
def filter_group_having_min(spark, sf_dir):
    """Existence predicate per key group — keep tile if any pixel below
    threshold (`altitude_filter_files_list`,
    `pipeline_transform_sea_level.py:1578-1634`, F8): groupBy + min + HAVING.
    The reference's metadata fast path (gdalinfo `Minimum=`) is parquet
    column-stats pruning, exercised by the engine's bucket-pruned reads."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.min("l_extendedprice").alias("_m"))
        .filter(F.col("_m") < 2000)
        .select("l_orderkey", F.round("_m", 2).alias("min_price"))
    )


@register(
    "filter_range_bbox",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_discount BETWEEN 0.02 AND 0.06
""",
    tags=("filter", "F11", "F12"),
)
def filter_range_bbox(spark, sf_dir):
    """Conjunctive 2-D range predicate — the bbox clip
    (`clip_vector_dataset`, `pipeline_transform_sea_level.py:574-660`, F11)."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_quantity").between(10, 20) & F.col("l_discount").between(0.02, 0.06)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


@register(
    "filter_regex_key_extract",
    oracle="""
SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS name_key, count(*) AS n
FROM part
WHERE regexp_extract(p_name, '^([a-z]+)', 1) IN ('cold', 'small', 'large')
GROUP BY 1
""",
    tags=("filter", "F1", "F2", "F7", "X1"),
)
def filter_regex_key_extract(spark, sf_dir):
    """Regex key extraction + membership filter — geocellid parse + filter list
    (`geocell_regex_match`, `pipeline_transform_vrt_gdal.py:140-171`, F1/X1).
    The isin() membership filter is the F7 categorical-map pattern (the
    orders-table variant lives in zz_filter_isin_categorical)."""
    p = t(spark, sf_dir, "part")
    keyed = p.withColumn("name_key", F.regexp_extract("p_name", r"^([a-z]+)", 1))
    return (
        keyed.filter(F.col("name_key").isin("cold", "small", "large"))
        .groupBy("name_key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "filter_null_state_marker",
    oracle="""
SELECT l_returnflag,
       sum(CASE WHEN nullif(l_tax, 0) IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
       count(nullif(l_tax, 0))::BIGINT AS n_set
FROM lineitem GROUP BY l_returnflag
""",
    tags=("filter", "F9", "X8"),
)
def filter_null_state_marker(spark, sf_dir):
    """Nullable column as state marker (`flood IS NULL` = not yet flooded,
    `sea_level.py:374-376`, F9/X8): nullif + null counting per group."""
    li = t(spark, sf_dir, "lineitem")
    marked = li.withColumn("_m", F.nullif(F.col("l_tax"), F.lit(0.0)))
    return marked.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("_m").isNull(), 1).otherwise(0)).alias("n_null"),
        F.count("_m").alias("n_set"),
    )


# ----------------------------------------------------------------------- joins


@register(
    "join_broadcast_dims",
    oracle="""
SELECT r.r_name, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS revenue
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
    tags=("join", "J1", "J2"),
)
def join_broadcast_dims(spark, sf_dir):
    """Fact ⋈ small dims — grid/boundary catalog joins (`get_geocellid`,
    `model_data.py:81-134`, J1/J2). Dims are explicitly broadcast: no shuffle
    of the fact side."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "join_theta_inequality",
    oracle="""
SELECT n.n_name, count(*) AS n_pairs
FROM supplier s
JOIN customer c ON s.s_nationkey = c.c_nationkey AND s.s_acctbal > c.c_acctbal
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    tags=("join", "J1", "theta"),
)
def join_theta_inequality(spark, sf_dir):
    """Theta join (equi + inequality residual) — ST_Intersects-with-filter
    analog (`get_geocellid`, `model_data.py:81-134`)."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        s.join(c, (s.s_nationkey == c.c_nationkey) & (s.s_acctbal > c.c_acctbal))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "join_semi_manifest",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
""",
    tags=("join", "J12", "U4"),
)
def join_semi_manifest(spark, sf_dir):
    """Semi join against a key manifest (`common_files_between_lists`,
    `tile_utils.py:267-286`, J12)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "zz_join_anti_unprocessed",
    oracle="""
SELECT c_mktsegment, count(*) AS n_customers
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
GROUP BY c_mktsegment
""",
    tags=("join", "J13", "U5"),
)
def join_anti_unprocessed(spark, sf_dir):
    """Anti join: work list minus already-produced outputs
    (`pipeline_flows.py:210-221`, J13)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_point_lookup",
    oracle="""
SELECT c.c_custkey, c.c_name, count(*) AS n_orders, round(sum(o.o_totalprice), 2) AS total
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
WHERE c.c_custkey = 42
GROUP BY c.c_custkey, c.c_name
""",
    tags=("join", "J14", "O2"),
)
def join_point_lookup(spark, sf_dir):
    """Point-lookup serving query (`get_na_coastal_flooding_90(lat, lon)`,
    `model_data.py:169-213`, J14). The key predicate prunes at the scan."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_custkey") == 42)
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_neighbourhood_window",
    oracle="""
SELECT a.o_custkey, count(*) AS n_pairs
FROM orders a
JOIN orders b
  ON a.o_custkey = b.o_custkey
 AND b.o_orderdate BETWEEN a.o_orderdate - INTERVAL 7 DAY AND a.o_orderdate
 AND a.o_orderkey <> b.o_orderkey
GROUP BY a.o_custkey
""",
    tags=("join", "J9", "J10", "range"),
)
def join_neighbourhood_window(spark, sf_dir):
    """Range/neighbourhood self-join on a structured key — the 3×3 adjacent-tile
    probe (`collect_neighbouring_coastal_flood_files`, `tile_utils.py:158-236`,
    J9). Equi part (o_custkey) drives the shuffle; the range is a residual.

    Physical plan (round 6, guide §2.4 "remove shuffles outright"): the
    self-join shuffled `orders` TWICE and materialized every (a, b) pair
    (~|orders|·(orders/key)² joined rows) only to count them — 9.1 s at sf1.0.
    The count per anchor row `a` is exactly a trailing RANGE-window count:
    rows in [a_dt − 7 days, a_dt] minus rows of the SAME (custkey, orderkey)
    in that range (≥1: `a` itself — subtracting the same-key window count
    rather than the constant 1 keeps the result exact even under duplicate
    order keys). Over exact integer microseconds (`unix_micros`; INTERVAL
    7 DAY ≡ 604 800 000 000 µs — no float rounding) the window semantics,
    RANGE frames including all peers, match the BETWEEN join residual
    row-for-row. One exchange on o_custkey (the second window re-sorts within
    the same partitioning — HashPartitioning(custkey) satisfies the
    (custkey, orderkey) clustering), partial-agg'd sum, and the anti-join-free
    `n_pairs > 0` filter reproduces inner-join row elimination: measured
    9.1 s → ~1 s at sf1.0 with identical output on every SF."""
    o = t(spark, sf_dir, "orders")
    # the parquet column is timestamp_ntz; the session tz is pinned UTC, so
    # the cast to timestamp is an exact, monotone micros mapping (no DST).
    # A NULL date never satisfies the join's BETWEEN, but NULL-ordered rows
    # would share one RANGE peer group and count each other: drop them.
    d = o.filter(F.col("o_orderdate").isNotNull()).select(
        "o_custkey",
        "o_orderkey",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("_us"),
    )
    week = 7 * 86_400 * 1_000_000
    w_all = Window.partitionBy("o_custkey").orderBy("_us").rangeBetween(-week, 0)
    w_same = (
        Window.partitionBy("o_custkey", "o_orderkey").orderBy("_us").rangeBetween(-week, 0)
    )
    pairs = F.count(F.lit(1)).over(w_all) - F.count(F.lit(1)).over(w_same)
    return (
        d.select("o_custkey", pairs.alias("_p"))
        .groupBy("o_custkey")
        .agg(F.sum("_p").alias("n_pairs"))
        .filter(F.col("n_pairs") > 0)
    )


@register(
    "join_first_writer_wins",
    oracle="""
SELECT user_id, event_id AS first_lsn, event_type AS first_type
FROM (
  SELECT * FROM events WHERE event_id < 600
  UNION ALL
  SELECT * FROM events WHERE event_id >= 400
)
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) = 1
""",
    tags=("join", "J17", "U1"),
)
def join_first_writer_wins(spark, sf_dir):
    """Union of overlapping sources + FIRST-writer-wins dedup
    (`merge_shapefiles` keep='first', `pipeline_transform_sea_level.py:814-836`,
    J17) — the engine's LWW with ascending order."""
    ev = t(spark, sf_dir, "events")
    both = ev.filter(F.col("event_id") < 600).unionByName(
        ev.filter(F.col("event_id") >= 400)
    )
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        both.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("first_lsn"),
            F.col("event_type").alias("first_type"),
        )
    )


@register(
    "join_multiway_distinct_on",
    oracle="""
SELECT r.r_name, c.c_custkey, c.c_acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
QUALIFY row_number() OVER (PARTITION BY r.r_name
                           ORDER BY c.c_acctbal DESC, c.c_custkey ASC) = 1
""",
    tags=("join", "J8", "window"),
)
def join_multiway_distinct_on(spark, sf_dir):
    """3-way join + DISTINCT ON (key) — grid ⋈ continents ⋈ water with
    `DISTINCT ON (geocellid)` (`get_grid_and_coastline_gdf`,
    `pipeline_transform_sea_level.py:1700-1744`, J8)."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    w = Window.partitionBy("r_name").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("r_name", "c_custkey", "c_acctbal")
    )


# ------------------------------------------------------------------------ aggs


@register(
    "agg_class_percentage",
    oracle="""
SELECT event_type, count(*) AS n,
       round(100.0 * count(*) / sum(count(*)) OVER (), 4) AS pct
FROM events GROUP BY event_type
""",
    tags=("agg", "A1"),
)
def agg_class_percentage(spark, sf_dir):
    """Per-class counts → percentages (`land_cover_percentage`,
    `tests/test_pixel_utils.py:163-221`, A1). The global total comes back as a
    1-row broadcast crossJoin (same pattern as agg_global_rescale) — not an
    unpartitioned window, which would funnel all rows through one task."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("_tot"))
    return counts.crossJoin(F.broadcast(total)).select(
        "event_type",
        "n",
        F.round(100.0 * F.col("n") / F.col("_tot"), 4).alias("pct"),
    )


@register(
    "agg_global_rescale",
    oracle="""
SELECT event_id, round((value - mn) / (mx - mn), 6) AS scaled
FROM events
CROSS JOIN (SELECT min(value) AS mn, max(value) AS mx FROM events)
""",
    tags=("agg", "A3"),
)
def agg_global_rescale(spark, sf_dir):
    """Global min/max then per-row normalize (`rescale_raster`,
    `pipeline_transform_vrt_gdal.py:525-567`, A3): scalar agg broadcast back —
    no single-partition window."""
    ev = t(spark, sf_dir, "events")
    mm = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    return ev.crossJoin(F.broadcast(mm)).select(
        "event_id",
        F.round((F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn")), 6).alias("scaled"),
    )


@register(
    "agg_positional_sum",
    oracle="""
SELECT event_id % 500 AS pos, round(sum(value), 2) AS total
FROM events GROUP BY 1
""",
    tags=("agg", "A4"),
)
def agg_positional_sum(spark, sf_dir):
    """Positional (aligned) aggregation of layers
    (`coastal_flooding_rasters_sum`, `sea_level.py:1257-1285`, A4)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("pos", F.col("event_id") % 500)
        .groupBy("pos")
        .agg(F.round(F.sum("value"), 2).alias("total"))
    )


@register(
    "agg_sorted_set_concat",
    oracle="""
SELECT user_id, string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
FROM events GROUP BY user_id
""",
    tags=("agg", "A6", "A10"),
)
def agg_sorted_set_concat(spark, sf_dir):
    """Group-union of members per key (`union_geom.Union` loop,
    `pipeline_transform_vrt_gdal.py:735-764`, A6): collect_set → sort → concat."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias("types")
    )


@register(
    "agg_running_mean",
    oracle="""
SELECT user_id, event_id,
       (sum(round(value * 100)::BIGINT) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS run_sum_cents,
       count(*) OVER (PARTITION BY user_id ORDER BY event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_seen
FROM events
""",
    tags=("agg", "A7", "window"),
)
def agg_running_mean(spark, sf_dir):
    """Running mean over the stream (`print_progress` ETA,
    `pipeline_download_utils_soils.py:40-49`, A7). Accumulates exact integer
    cents — float running aggregates round differently across engines at .005
    boundaries (Spark sequential vs DuckDB segment-tree summation). The window
    sum itself is cast ::BIGINT in the oracle: DuckDB's sum(BIGINT) yields
    HUGEINT (int128), which the driver's value hash treats differently from
    Spark's int64 (same bug class as the int32 casts fixed in round 1)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "user_id",
        "event_id",
        F.sum(cents).over(w).alias("run_sum_cents"),
        F.count(F.lit(1)).over(w).alias("n_seen"),
    )


@register(
    "zz_agg_bytes_per_source",
    oracle="""
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY source
""",
    tags=("agg", "A8"),
)
def agg_bytes_per_source(spark, sf_dir):
    """Per-dataset byte metrics (`get_directory_size`,
    `docs/compile_json_metadata.py:20-54`, A8)."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "zz_agg_distinct_values",
    oracle="SELECT DISTINCT event_type FROM events",
    tags=("agg", "A10"),
)
def agg_distinct_values(spark, sf_dir):
    """Distinct column values (`set(feature.GetField(...))`,
    `pipeline_transform_vrt_gdal.py:741`, A10)."""
    return t(spark, sf_dir, "events").select("event_type").distinct()


@register(
    "zz_agg_extremes_per_key",
    oracle="""
SELECT user_id, round(min(value), 2) AS min_v, round(max(value), 2) AS max_v,
       round(stddev_samp(value), 6) AS sd_v
FROM events GROUP BY user_id
""",
    tags=("agg", "A2", "A3"),
)
def agg_extremes_per_key(spark, sf_dir):
    """Per-key min/max/spread (`altitude_filter` min extraction,
    `sea_level.py:1596-1633`, A2)."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.round(F.min("value"), 2).alias("min_v"),
        F.round(F.max("value"), 2).alias("max_v"),
        F.round(F.stddev_samp("value"), 6).alias("sd_v"),
    )


# --------------------------------------------------------------------- windows


@register(
    "window_topk_per_group",
    oracle="""
SELECT event_type, event_id, value, rnk
FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rnk
  FROM events
) WHERE rnk <= 3
""",
    tags=("window", "topk", "O1"),
)
def window_topk_per_group(spark, sf_dir):
    """Top-k per group (ordered processing schedule analog, W2/O1)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "event_id", "value", F.col("rnk").cast("long").alias("rnk"))
    )


@register(
    "window_lag_delta",
    oracle="""
SELECT user_id, event_id,
       round(value - lag(value) OVER (PARTITION BY user_id ORDER BY event_id), 4) AS delta
FROM events
""",
    tags=("window", "W1", "lag"),
)
def window_lag_delta(spark, sf_dir):
    """Lag-1 delta per key — level-k vs level-(k−1) dependence
    (`coastal_flooding_pixel_prediction` loop, `sea_level.py:1424-1545`, W1)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
    )


@register(
    "window_first_row_special_case",
    oracle="""
SELECT kind, count(*) AS n
FROM (
  SELECT CASE WHEN row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
              THEN 'seed' ELSE 'step' END AS kind
  FROM events
) GROUP BY kind
""",
    tags=("window", "W4"),
)
def window_first_row_special_case(spark, sf_dir):
    """First-row-in-frame special handling — level-0 seeds with the coastline,
    level-k joins the previous flood (`sea_level.py:1435-1456`, W4)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn(
            "kind", F.when(F.row_number().over(w) == 1, "seed").otherwise("step")
        )
        .groupBy("kind")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sort_global_topn",
    oracle="""
SELECT o_orderkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 5
""",
    tags=("sort", "O1", "O2"),
)
def sort_global_topn(spark, sf_dir):
    """Global deterministic order + limit (sorted file lists,
    `vrt_gdal.py:211,406`, O1; `.first()` lookups, O2). Spark executes this as
    TakeOrderedAndProject — no full sort."""
    o = t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(5)
    )


# --------------------------------------------------------------------- set ops


@register(
    "setop_union_distinct",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
UNION
SELECT user_id FROM events WHERE event_type = 'view'
""",
    tags=("setop", "U2"),
)
def setop_union_distinct(spark, sf_dir):
    """UNION with dedup (grid SQL UNION, `sea_level.py:1727`, U2)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id")
    b = ev.filter(F.col("event_type") == "view").select("user_id")
    return a.union(b).distinct()


@register(
    "setop_intersect",
    oracle="""
SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT DISTINCT user_id FROM events WHERE event_type = 'error'
""",
    tags=("setop", "U4"),
)
def setop_intersect(spark, sf_dir):
    """INTERSECT (`set1.intersection(set2)`, `tile_utils.py:279-286`, U4)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    b = ev.filter(F.col("event_type") == "error").select("user_id").distinct()
    return a.intersect(b)


@register(
    "setop_except_pairs",
    oracle="""
SELECT DISTINCT user_id, floor(value)::INT AS vband FROM events WHERE event_id < 2000
EXCEPT
SELECT DISTINCT user_id, floor(value)::INT FROM events WHERE event_id >= 2000
""",
    tags=("setop", "U5", "U6"),
)
def setop_except_pairs(spark, sf_dir):
    """EXCEPT — (key, value-band) pairs seen early but never again (the
    anti-list comprehension, `pipeline_flows.py:220`, U5)."""
    ev = t(spark, sf_dir, "events")
    vband = F.floor("value").cast("int").alias("vband")
    a = ev.filter(F.col("event_id") < 2000).select("user_id", vband).distinct()
    b = ev.filter(F.col("event_id") >= 2000).select("user_id", vband).distinct()
    return a.subtract(b)


@register(
    "zz_setop_symmetric_difference",
    oracle="""
(SELECT DISTINCT user_id, event_type FROM events WHERE event_id < 200
 EXCEPT
 SELECT DISTINCT user_id, event_type FROM events WHERE event_id >= 200)
UNION
(SELECT DISTINCT user_id, event_type FROM events WHERE event_id >= 200
 EXCEPT
 SELECT DISTINCT user_id, event_type FROM events WHERE event_id < 200)
""",
    tags=("setop", "U7"),
)
def setop_symmetric_difference(spark, sf_dir):
    """Symmetric difference via two anti joins (`gdal_polygon_difference`
    SymDifference, `sea_level.py:789-794`, U7)."""
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_id") < 200).select("user_id", "event_type").distinct()
    b = ev.filter(F.col("event_id") >= 200).select("user_id", "event_type").distinct()
    return a.join(b, ["user_id", "event_type"], "left_anti").union(
        b.join(a, ["user_id", "event_type"], "left_anti")
    )


# --------------------------------------------------------------------- scalars


@register(
    "scalar_string_suite",
    oracle="""
SELECT p_partkey,
       regexp_extract(p_name, '^(\\w+)', 1) AS word1,
       regexp_replace(p_name, ' ', '_', 'g') AS munged,
       lpad(regexp_extract(p_brand, '(\\d+)', 1), 3, '0') AS brand_num,
       printf('key_%05d', p_partkey) AS formatted,
       upper(substr(p_name, 1, 4)) AS head4,
       length(p_name) AS name_len
FROM part
""",
    tags=("scalar", "X1", "X2", "X3", "X4"),
)
def scalar_string_suite(spark, sf_dir):
    """Key parse/format scalar suite — regex extract/replace, zero-pad,
    printf-format, substring (geocellid munging: `tile_utils.py:45-107`,
    `pipeline_download_s3_global.py:145-155`, X1-X4)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("word1"),
        F.regexp_replace("p_name", " ", "_").alias("munged"),
        F.lpad(F.regexp_extract("p_brand", r"(\d+)", 1), 3, "0").alias("brand_num"),
        F.format_string("key_%05d", "p_partkey").alias("formatted"),
        F.upper(F.substring("p_name", 1, 4)).alias("head4"),
        F.length("p_name").cast("long").alias("name_len"),
    )


@register(
    "scalar_binning_wraparound",
    oracle="""
SELECT CASE
         WHEN deg >= 337.5 OR deg < 22.5 THEN 'N'
         WHEN deg < 67.5 THEN 'NE'
         WHEN deg < 112.5 THEN 'E'
         WHEN deg < 157.5 THEN 'SE'
         WHEN deg < 202.5 THEN 'S'
         WHEN deg < 247.5 THEN 'SW'
         WHEN deg < 292.5 THEN 'W'
         ELSE 'NW'
       END AS compass, count(*) AS n
FROM (SELECT (value * 36) % 360 AS deg FROM events)
GROUP BY compass
""",
    tags=("scalar", "X6"),
)
def scalar_binning_wraparound(spark, sf_dir):
    """9-way binning with wraparound (337.5°–22.5° = North) —
    `categorize_aspect` (`pipeline_transform_vrt_gdal.py:430-523`, X6)."""
    ev = t(spark, sf_dir, "events")
    deg = (F.col("value") * 36) % 360
    compass = (
        F.when((deg >= 337.5) | (deg < 22.5), "N")
        .when(deg < 67.5, "NE")
        .when(deg < 112.5, "E")
        .when(deg < 157.5, "SE")
        .when(deg < 202.5, "S")
        .when(deg < 247.5, "SW")
        .when(deg < 292.5, "W")
        .otherwise("NW")
    )
    return ev.select(compass.alias("compass")).groupBy("compass").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "scalar_trig_geodesy",
    oracle="""
SELECT event_id,
       round(degrees(atan2(sin(radians(value)), cos(radians(value)))), 6) AS bearing,
       round(2 * 6371 * asin(sqrt(sin(radians(value) / 2) ^ 2)), 6) AS hav_km
FROM events WHERE event_id < 500
""",
    tags=("scalar", "X7"),
)
def scalar_trig_geodesy(spark, sf_dir):
    """Trig/geodesy expression chain (`clip_extent` radians/asin/atan2,
    `tests/test_pixel_utils.py:59-76`, X7)."""
    ev = t(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    rad = F.radians("value")
    return ev.select(
        "event_id",
        F.round(F.degrees(F.atan2(F.sin(rad), F.cos(rad))), 6).alias("bearing"),
        F.round(2 * 6371 * F.asin(F.sqrt(F.pow(F.sin(rad / 2), 2))), 6).alias("hav_km"),
    )


@register(
    "scalar_datetime_suite",
    oracle="""
SELECT date_trunc('day', ts)::TIMESTAMP AS day,
       count(*) AS n,
       min(extract(hour FROM ts))::BIGINT AS first_hour,
       max(extract(hour FROM ts))::BIGINT AS last_hour,
       min(floor(epoch(ts)))::BIGINT AS min_unix,
       sum(json_extract_string(props, '$.k')::INT)::BIGINT AS k_sum
FROM events GROUP BY 1
""",
    tags=("scalar", "X9", "X10", "X11"),
)
def scalar_datetime_suite(spark, sf_dir):
    """Timestamp scalar suite — truncation, parts, unix seconds (file mtimes →
    datetime, `docs/compile_json_metadata.py:134-150`, X9/X10) — plus JSON
    payload extraction per day (metadata records,
    `docs/compile_json_metadata.py:190-220`, X11; the per-type variant lives in
    zz_scalar_json_extract)."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_trunc("day", "ts"))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.hour("ts")).cast("long").alias("first_hour"),
            F.max(F.hour("ts")).cast("long").alias("last_hour"),
            F.min(F.unix_timestamp("ts")).alias("min_unix"),
            F.sum(F.get_json_object("props", "$.k").cast("int")).alias("k_sum"),
        )
    )


@register(
    "zz_scalar_json_extract",
    oracle="""
SELECT event_type, sum(json_extract_string(props, '$.k')::INT)::BIGINT AS k_sum,
       count(json_extract_string(props, '$.k')) AS k_n
FROM events GROUP BY event_type
""",
    tags=("scalar", "X11"),
)
def scalar_json_extract(spark, sf_dir):
    """JSON payload extraction (metadata records,
    `docs/compile_json_metadata.py:190-220`, X11)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(k).alias("k_n")
    )


@register(
    "scalar_size_labels",
    oracle="""
SELECT CASE WHEN n_chars < 200 THEN 'S' WHEN n_chars < 400 THEN 'M' ELSE 'L' END AS size_label,
       count(*) AS n, printf('%d chars', sum(n_chars)::INT) AS human
FROM documents GROUP BY 1
""",
    tags=("scalar", "X12"),
)
def scalar_size_labels(spark, sf_dir):
    """Human-readable size bucketing (`docs/compile_json_metadata.py:26-54`,
    X12)."""
    d = t(spark, sf_dir, "documents")
    label = (
        F.when(F.col("n_chars") < 200, "S").when(F.col("n_chars") < 400, "M").otherwise("L")
    )
    return (
        d.select(label.alias("size_label"), "n_chars")
        .groupBy("size_label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.format_string("%d chars", F.sum("n_chars").cast("int")).alias("human"),
        )
    )


@register(
    "zz_agg_rollup_hierarchy",
    oracle="""
SELECT coalesce(r_name, 'ALL') AS region,
       coalesce(n_name, 'ALL') AS nation,
       count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""",
    tags=("agg", "rollup"),
)
def agg_rollup_hierarchy(spark, sf_dir):
    """Hierarchical ROLLUP totals (region → nation → grand total) — beyond the
    reference's operator set (SURVEY §2.4 notes it absent) but table stakes for
    an analytics engine; null grouping rows are labeled to match the oracle."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            "n_customers",
            "total_bal",
        )
    )


@register(
    "zz_agg_pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS n_open,
       sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS n_finished,
       sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS n_partial
FROM orders GROUP BY o_orderpriority
""",
    tags=("agg", "pivot"),
)
def agg_pivot_status_by_priority(spark, sf_dir):
    """Pivot (wide conditional aggregation) of order status by priority —
    expressed portably as conditional sums (Spark .pivot() produces the same
    plan shape; the explicit form keeps the oracle engine-agnostic)."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("n_open"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_finished"),
        F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0)).alias("n_partial"),
    )

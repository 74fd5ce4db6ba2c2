"""The analytics query catalog — one entry per operator class of SURVEY.md §2
plus the training-data-pipeline operators (dedup / similarity / multimodal /
text analysis).

Every query is a function ``(spark, sf_dir) -> DataFrame`` over the synthetic
star schema at ``sf_dir``; ``oracles.ORACLES`` holds the DuckDB SQL that the
correctness driver hash-compares against.  Naming convention: the key prefix
cites the SURVEY §2 operator id the query exercises.

Determinism rules (driver hashes values after sorting columns by name):
- every float aggregate is explicitly ``round``-ed, mirrored in the oracle;
- comparisons against thresholds use continuous columns (boundary ties have
  measure zero);
- timestamps are computed under session timezone UTC (pinned per query).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from openskidata_processor_spark.functions import osm as OSM
from openskidata_processor_spark.operators import priority

from ..functions import text as T
from ..functions import vectors as V
from ..functions.geometry import haversine_km, make_point_in_polygon_udf
from ..operators import dedup, sessionize, similarity, spatial_join, topk
from ..session import prep_session
from ..sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}


def query(name: str):
    def reg(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            prep_session(spark)
            return fn(spark, sf_dir)
        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        return wrapped
    return reg


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# Exact fixed-point aggregation helpers.
#
# Summing 2-decimal doubles is order-dependent (partial aggregation), and
# even rounding a deterministic quotient is engine-dependent: Spark's round()
# goes through the double's shortest decimal repr (so 38.37875 → 38.3788,
# HALF_UP) while DuckDB rounds the raw binary double (38.374999… → 38.3787).
# The fix is to never round a float at all: scale inputs to exact integers,
# aggregate integers, and perform one explicit integer half-up division —
# bit-identical on any engine.

def _cents(col, scale: int = 100):
    return F.round(col * scale, 0).cast("long")


def _ratio_half_up(num, den, out_scale: int):
    """round-half-up(num/den) / out_scale using only exact integer ops.

    num, den: positive integer columns.  q = (2·num + den) div (2·den) is the
    half-up quotient; computed via pmod so every double op involves exactly
    representable integers (< 2^53)."""
    n2 = num * 2 + den
    d2 = den * 2
    q = ((n2 - F.pmod(n2, d2)) / d2).cast("long")
    return q / F.lit(float(out_scale))


def _sum_fixed(col, scale: int = 100, dec: int = 2):
    # Exact: integer cents / 100.0 is the same double everywhere.
    return F.round(F.sum(_cents(col, scale)) / F.lit(float(scale)), dec)


def _avg_fixed(col, scale: int = 100, dec: int = 4):
    out_scale = 10 ** dec
    s = F.sum(_cents(col, scale))
    n = F.count(col)
    if out_scale >= scale:
        return _ratio_half_up(s * (out_scale // scale), n, out_scale)
    return _ratio_half_up(s, n * (scale // out_scale), out_scale)


# ---------------------------------------------------------------------------
# Relational core (reference operator classes A2, J1/J8, W1, O4/O5, A1, A7)
# ---------------------------------------------------------------------------

@query("a2_pricing_summary")
def a2_pricing_summary(spark, sf_dir):
    """A2-shape partial+final grouped aggregation (TPC-H Q1 style): the same
    plan as the reference's per-ski-area statistics rollup
    (SkiAreaStatistics.ts:37-235 — count/sum/min/max by group keys)."""
    li = _t(spark, sf_dir, "lineitem")
    # disc_price = price·(1-disc): price-cents × (100 - disc-cents) is an
    # exact integer at scale 10^4.
    disc_scaled = _cents(F.col("l_extendedprice")) * (100 - _cents(F.col("l_discount")))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _sum_fixed(F.col("l_quantity")).alias("sum_qty"),
            _sum_fixed(F.col("l_extendedprice")).alias("sum_base_price"),
            _ratio_half_up(F.sum(disc_scaled), F.lit(100).cast("long"), 100)
             .alias("sum_disc_price"),
            _avg_fixed(F.col("l_quantity")).alias("avg_qty"),
            _avg_fixed(F.col("l_extendedprice")).alias("avg_price"),
            _avg_fixed(F.col("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query("j8_regional_revenue")
def j8_regional_revenue(spark, sf_dir):
    """J1/J8-shape broadcast dimension joins + aggregation (the reference's
    export-time summary joins, FeatureExporter.ts:148-161).

    Plan shape: lineitem is pre-aggregated to one row per order key *before*
    joining orders, so (a) the fact-fact join shuffles ~4x fewer rows, and
    (b) ``count(DISTINCT o_orderkey)`` collapses to a plain ``count(*)`` —
    no Expand/two-phase-distinct in the physical plan.  Both shuffles key on
    orderkey, so AQE coalesces them into co-partitioned exchanges.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    per_order = (
        li.select(
            F.col("l_orderkey"),
            (_cents(F.col("l_extendedprice"))
             * (100 - _cents(F.col("l_discount")))).alias("disc_scaled"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("disc_scaled").alias("order_revenue_scaled"))
    )
    return (
        per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
            _ratio_half_up(F.sum("order_revenue_scaled"),
                           F.lit(100).cast("long"), 100)
             .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )


@query("w1_top_order_per_customer")
def w1_top_order_per_customer(spark, sf_dir):
    """W1/J5-shape top-1-per-key (best-lift-per-station argmin,
    LiftStationAssociator.ts:118-150): latest order per customer with a
    deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    return topk.top_n_per_key(
        orders.select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        ["o_custkey"],
        [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()],
        n=1,
    ).withColumn("o_totalprice", F.round("o_totalprice", 2))


@query("o5_customers_without_orders")
def o5_customers_without_orders(spark, sf_dir):
    """O5-shape left-anti join ("not already assigned" frontier filter,
    PostgreSQLClusteringDatabase.ts:727-742): customers with no large order
    (plain no-orders is vacuously empty at sf ≥ 0.01)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000)
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@query("a1_merged_order_status")
def a1_merged_order_status(spark, sf_dir):
    """A1-shape priority-reducer aggregation (RunJoining.ts:168-208: easiest
    difficulty / operating-status-wins / tri-state booleans): per customer,
    merge order statuses by priority P > O > F."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            priority.priority_merge_agg(F.col("o_orderstatus"), ["P", "O", "F"])
                .alias("merged_status"),
            priority.tristate_or_agg(
                F.when(F.col("o_orderpriority") == "1-URGENT", F.lit(True))
                 .when(F.col("o_orderpriority") == "5-LOW", F.lit(False)))
                .alias("any_urgent"),
            F.count("*").alias("n_orders"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query("o4_union_orders")
def o4_union_orders(spark, sf_dir):
    """O4/O6-shape union + dedupe (the reference's stream merge + output
    union, PrepareGeoJSON.ts:105-117, merge_outputs.ts:94-161)."""
    orders = _t(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    high = orders.filter(F.col("o_totalprice") > 400000).select(*cols)
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(*cols)
    return (
        high.unionByName(urgent).dropDuplicates(cols)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"),
             _sum_fixed(F.col("o_totalprice")).alias("total_value"))
    )


@query("p5_lifecycle_resolution")
def p5_lifecycle_resolution(spark, sf_dir):
    """P5/P6/P7 formatter-path semantics under the driver's hard signal:
    derive OSM-style tag maps from ``part`` (12 scenarios via
    ``p_partkey % 12``, spanning every branch of ``getStatusAndValue`` —
    Status.ts:9-58: plain/flag/value-tagging/prefixed/unsupported/absent)
    and resolve them with the REAL formatter functions (``functions/osm.py``)
    — the exact path that broke at round-5 HEAD while the relational catalog
    stayed green.  Also exercises tri-state booleans (OSMTransforms.ts:15-24),
    lenient number coercion and localized name extraction (:37-65)."""
    part = _t(spark, sf_dir, "part").select("p_partkey")
    pid = F.col("p_partkey").cast("string")
    s = F.pmod(F.col("p_partkey"), 12)
    vid = F.concat(F.lit("v"), pid)
    pairs = [
        ("aerialway", F.when(s.isin(0, 1, 9), "chair_lift")
                       .when(s.isin(2, 3, 11), "proposed")
                       .when(s == 5, "demolished")
                       .when(s == 6, "x")),
        ("proposed", F.when(s == 2, vid)),
        ("abandoned", F.when(s.isin(1, 8), "yes")),
        ("disused", F.when(s == 9, "yes")),
        ("construction", F.when(s == 9, "yes")),
        ("demolished", F.when(s == 6, "yes")),
        ("proposed:aerialway", F.when(s.isin(4, 11), vid)),
        ("planned:aerialway", F.when(s == 10, F.concat(F.lit("b"), pid))),
        ("construction:aerialway", F.when(s == 10, F.concat(F.lit("a"), pid))),
        ("lit", F.when(F.pmod(s, 3) == 0, "yes").when(F.pmod(s, 3) == 1, "no")),
        ("aerialway:capacity",
         F.when(F.pmod(s, 4) == 0, "4").when(F.pmod(s, 4) == 1, "x")),
        ("name", F.concat(F.lit("n"), pid)),
        ("name:en", F.when(F.pmod(s, 2) == 0, F.concat(F.lit("e"), pid))),
    ]
    kvs: list = []
    for k, v in pairs:
        kvs += [F.lit(k), v]
    tags = F.map_filter(F.create_map(*kvs), lambda _, v: v.isNotNull())
    status, value = OSM.status_and_value(tags, "aerialway")
    return part.select(
        F.col("p_partkey").alias("id"),
        status.alias("status"),
        value.alias("value"),
        OSM.osm_boolean(tags, "lit").alias("lit"),
        OSM.osm_number(tags, "aerialway:capacity").alias("capacity"),
        OSM.osm_name(tags, "name").alias("name"),
        value.isNotNull().alias("kept"),
    )


@query("j3_acctbal_distance_join")
def j3_acctbal_distance_join(spark, sf_dir):
    """J3-shape bucketed distance join in 1-D (the grid-cell band-join trick
    behind all the reference's ST_DWithin joins, §4.3): customer/supplier
    pairs with account balances within 1.0 of each other."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    pairs = spatial_join.distance_join_1d(cust, supp, "c_acctbal", "s_acctbal", 1.0)
    return (
        pairs.groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_pairs"),
             _avg_fixed(F.abs(F.col("c_acctbal") - F.col("s_acctbal")))
              .alias("avg_gap"))
    )


@query("a7_lineitem_dedup")
def a7_lineitem_dedup(spark, sf_dir):
    """A7-shape dedup family (uniquedSources/uniquePlaces — distinct on a
    composite key)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_partkey", "l_suppkey").distinct()
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_combos"))
    )


@query("w_running_total")
def w_running_total(spark, sf_dir):
    """Ordered analytic window (running aggregation) — the general window
    machinery behind W1–W4."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_custkey", "o_orderkey",
                F.round(F.sum(_cents(F.col("o_totalprice"))).over(w) / 100.0, 2)
                 .alias("running_total"))
    )


# ---------------------------------------------------------------------------
# Time-series / events (A6 shape, sessionization, P7 extraction)
# ---------------------------------------------------------------------------

@query("a6_daily_event_stats")
def a6_daily_event_stats(spark, sf_dir):
    """A6-shape dated time-series aggregation (snow-cover weekly→daily
    rollup, snowCoverHistory.ts:230-249: per (entity, day) mean + counts)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n_events"),
             _avg_fixed(F.col("value")).alias("avg_value"),
             F.countDistinct("user_id").alias("n_users"))
    )


@query("sessionize_user_sessions")
def sessionize_user_sessions(spark, sf_dir):
    """Gap-based sessionization (30 min) — stateful-streaming-shaped logic
    expressed as lag + cumulative windows."""
    ev = _t(spark, sf_dir, "events")
    s = sessionize.sessionize(ev, "user_id", "ts", 30, "event_id")
    return (
        s.groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"),
             F.count("*").alias("n_events"))
    )


@query("p7_event_value_extract")
def p7_event_value_extract(spark, sf_dir):
    """P7-shape string coercion/extraction (OSM tag value parsing) over the
    JSON-ish props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), "([0-9]+)", 1).cast("int")
    return (
        ev.select((k % 10).alias("k_bucket"), "value")
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"),
             _avg_fixed(F.col("value")).alias("avg_value"))
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup over documents (training-data pipeline operators)
# ---------------------------------------------------------------------------

@query("text_doc_stats")
def text_doc_stats(spark, sf_dir):
    """Per-language corpus statistics: doc counts, token/char means."""
    docs = _t(spark, sf_dir, "documents")
    w = T.words(F.col("text"))
    return (
        docs.select("lang", "source", F.size(w).alias("n_tokens"),
                    F.length("text").alias("n_chars_"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
             F.round(F.avg("n_chars_"), 4).alias("avg_chars"),
             F.countDistinct("source").alias("n_sources"))
    )


@query("dedup_exact")
def dedup_exact(spark, sf_dir):
    """Exact dedup via content digest: unique-text counts per source."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct(F.md5("text")).alias("n_unique"))
    )


@query("dedup_ngram_jaccard")
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard similarity join: near-duplicate pairs with
    jaccard ≥ 0.8 (the exact-oracle twin of the MinHash-LSH scale path).

    Runs the all-postings join — fastest at bench scale, where the
    inverted index is small.  ``prefix_filter=True`` (PPJoin candidate
    pruning, identical output, exactness-tested in ``test_recall``) is
    the switch for corpora where ubiquitous shingles make the postings
    self-join quadratic."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", n=3,
                                      threshold=0.8)
    return pairs.withColumn("jaccard", F.round("jaccard", 4))


@query("fingerprint_docs")
def fingerprint_docs(spark, sf_dir):
    """Order-insensitive document fingerprinting (bag-of-words md5)."""
    docs = _t(spark, sf_dir, "documents")
    fp = T.bag_fingerprint(T.words(F.col("text")))
    return (
        docs.select("lang", fp.alias("fp"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("fp").alias("n_unique_fp"))
    )


@query("langid_docs")
def langid_docs(spark, sf_dir):
    """Stopword-hit language-ID heuristic vs the labeled lang column."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", T.language_guess(T.words(F.col("text"))).alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count("*").alias("n"))
    )


@query("tokens_docs")
def tokens_docs(spark, sf_dir):
    """BPE-ish regex token counting per source."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("source", T.token_count(F.col("text")).alias("n_tok"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tok").alias("sum_tokens"),
             F.max("n_tok").alias("max_tokens"))
    )


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query("knn_cosine")
def knn_cosine(spark, sf_dir):
    """Brute-force cosine top-5 (exact ANN baseline): queries = vec_id < 10,
    corpus = the rest."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    out = similarity.knn_brute_force(q, c, k=5, corpus_id="neighbor_id")
    return (out.withColumn("cosine_sim", F.round("cosine_sim", 6))
               .withColumnRenamed("rank", "knn_rank"))


@query("dedup_embedding_pairs")
def dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (sim > 0.4, id_a < id_b)."""
    from ..operators.barrier import spread_input

    # spread_input: the cross join's stream side is otherwise ONE task on
    # single-file bench input — measured 27-45 s single-core vs ~4 s
    # spread (no-op at real scale).
    emb = spread_input(_t(spark, sf_dir, "embeddings")
                       .select("vec_id", "embedding"))
    # per-ROW norms below the crossJoin: 3 interpreted folds per PAIR → 1
    # (bit-identical — same scalar ops in the same order; see
    # operators/similarity.knn_brute_force)
    a = emb.select(F.col("vec_id").alias("id_a"),
                   F.col("embedding").alias("va"),
                   V.norm(V.as_double(F.col("embedding"))).alias("__na"))
    b = emb.select(F.col("vec_id").alias("id_b"),
                   F.col("embedding").alias("vb"),
                   V.norm(V.as_double(F.col("embedding"))).alias("__nb"))
    sim = (V.dot(V.as_double(F.col("va")), V.as_double(F.col("vb")))
           / (F.col("__na") * F.col("__nb")))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", F.round(sim, 6))
        .filter(F.col("cosine_sim") > 0.4)
        .select("id_a", "id_b", "cosine_sim")
    )


# ---------------------------------------------------------------------------
# Geometry (J2 containment, J3 distance join) on synthesized coordinates
# ---------------------------------------------------------------------------

# Diamond polygon in the synthetic (x, y) plane used by j2_points_in_polygon.
DIAMOND = [[[50.0, 20.0], [80.0, 50.0], [50.0, 80.0], [20.0, 50.0], [50.0, 20.0]]]


@query("j2_points_in_polygon")
def j2_points_in_polygon(spark, sf_dir):
    """J2-shape containment semi-join: events mapped to synthetic (x, y)
    points tested against a fixed polygon with the engine's ray-casting
    kernel; the oracle uses the diamond's algebraic form |x-50|+|y-50|<30."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        F.pmod(F.col("value"), F.lit(100.0)).alias("x"),
        F.pmod(F.col("user_id"), F.lit(100)).cast("double").alias("y"))
    inside = make_point_in_polygon_udf(DIAMOND)
    return (
        pts.filter(inside(F.col("x"), F.col("y")))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_inside"))
    )


@query("j3_geo_dwithin")
def j3_geo_dwithin(spark, sf_dir):
    """J3-shape geodesic distance join via the grid-bucketed spatial join
    macro (§4.3): synthetic customer/supplier coordinates, pairs within
    100 km great-circle distance."""
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey",
        (((F.col("c_custkey") * 37) % 3600) / 10.0 - 180.0).alias("c_lon"),
        (((F.col("c_custkey") * 91) % 1600) / 10.0 - 80.0).alias("c_lat"))
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (((F.col("s_suppkey") * 37) % 3600) / 10.0 - 180.0).alias("s_lon"),
        (((F.col("s_suppkey") * 91) % 1600) / 10.0 - 80.0).alias("s_lat"))
    pairs = spatial_join.geo_dwithin_join(
        cust, supp, 100.0,
        left_lon="c_lon", left_lat="c_lat",
        right_lon="s_lon", right_lat="s_lat")
    # Exact-integer average of the (deterministically computed) distances:
    # round each to micro-km first, sum as long, divide once.
    return (
        pairs.groupBy("c_nationkey")
        .agg(F.count("*").alias("n_pairs"),
             _avg_fixed(F.col("distance_km"), scale=1_000_000, dec=4)
              .alias("avg_km"))
    )


# ---------------------------------------------------------------------------
# Structured Streaming
# ---------------------------------------------------------------------------

@query("stream_event_counts")
def stream_event_counts(spark, sf_dir):
    """Watermarked tumbling-window streaming aggregation drained with
    availableNow (SURVEY.md §2.11 extension point)."""
    from ..streaming.events import windowed_event_counts
    return windowed_event_counts(spark, sf_dir)


@query("stream_event_counts_append")
def stream_event_counts_append(spark, sf_dir):
    """APPEND-mode watermarked windows — each (window, event_type) row
    emits exactly once after the watermark passes the window end; open
    windows never emit (``streaming/events.py``,
    ``windowed_event_counts_append``).  The batch-twin oracle selects the
    emitted subset at the final watermark: hourly windows whose end ≤
    max(ts) − 30 min."""
    from ..streaming.events import windowed_event_counts_append
    return windowed_event_counts_append(spark, sf_dir,
                                        glob_filter="events.parquet")


@query("stream_dedup_bounded")
def stream_dedup_bounded(spark, sf_dir):
    """Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark)
    over a self-unioned event stream: state holds a key only until the
    watermark passes it, so a tail-follower's store is bounded by the
    delay window, not the corpus (``streaming/events.py``,
    ``bounded_dedup_event_counts``)."""
    from ..streaming.events import bounded_dedup_event_counts
    return bounded_dedup_event_counts(spark, sf_dir)


# ---------------------------------------------------------------------------
# Approximate operators (no SQL oracle — driver does rows-only checks)
# ---------------------------------------------------------------------------

@query("dedup_minhash_lsh")
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(64) + LSH(16 bands) near-dup candidates verified by exact
    Jaccard — the 100 TB-scale path for dedup_ngram_jaccard."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_dedup_pairs(docs, "doc_id", "text",
                                      n=3, num_perm=64, bands=16, threshold=0.8)
    return pairs.withColumn("jaccard", F.round("jaccard", 4))


@query("dedup_simhash")
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash near-dup pairs at Hamming distance ≤ 3 via pigeonhole
    band blocking."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=3)


@query("dedup_embedding_lsh")
def dedup_embedding_lsh(spark, sf_dir):
    """LSH-bucketed embedding near-dup pairs (sim > 0.4) — the scale path
    for dedup_embedding_pairs (whose crossJoin is kept only as the exact
    oracle twin); recall vs the exact pairs asserted in
    tests/test_recall.py."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs_lsh(
        emb, "vec_id", "embedding", dim=64, threshold=0.4)


@query("ann_ivf_topk")
def ann_ivf_topk(spark, sf_dir):
    """IVF (inverted-file) approximate top-5: sample-trained spherical
    k-means cells, n_probe=4 — the trained-index scale path beside the
    training-free LSH one (recall vs brute force asserted in
    tests/test_recall.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    out = similarity.ivf_ann_topk(q, c, k=5, corpus_id="neighbor_id")
    return (out.withColumn("cosine_sim", F.round("cosine_sim", 6))
               .withColumnRenamed("rank", "knn_rank"))


@query("ann_lsh_topk")
def ann_lsh_topk(spark, sf_dir):
    """Multi-table random-hyperplane LSH approximate top-5 (multi-probe) —
    the bucketed scale path for knn_cosine (recall@5 ≥ 0.8 asserted by
    tests/test_recall.py)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    out = similarity.lsh_ann_topk(q, c, k=5, dim=64, corpus_id="neighbor_id")
    return (out.withColumn("cosine_sim", F.round("cosine_sim", 6))
               .withColumnRenamed("rank", "knn_rank"))


@query("ann_pq_topk")
def ann_pq_topk(spark, sf_dir):
    """Product-quantization approximate top-5 with exact re-rank — the
    compressed-domain ANN path (corpus scanned as m=8 uint8 codes instead
    of 64 floats; ADC table lookups + rerank).  Approximate by design →
    no oracle; recall@5 vs brute force asserted in tests/test_recall.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    c = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cvec"))
    out = similarity.pq_ann_topk(q, c, k=5, corpus_id="neighbor_id")
    return (out.withColumn("cosine_sim", F.round("cosine_sim", 6))
               .withColumnRenamed("rank", "knn_rank"))


@query("stream_enriched_rollup")
def stream_enriched_rollup(spark, sf_dir):
    """Stream-static enrichment join (streaming/events.py): the events
    stream joins the broadcast customer dimension per micro-batch and
    rolls up per market segment — drained availableNow, checked against
    the plain batch-join oracle."""
    from ..streaming.events import stream_static_enriched_rollup
    return stream_static_enriched_rollup(spark, sf_dir)


@query("stream_click_attribution")
def stream_click_attribution(spark, sf_dir):
    """Stream-stream inner join with event-time bounds (streaming/
    events.py): click→purchase attribution within a 60-minute horizon,
    per user — watermarked on both sides so click state evicts once the
    purchase watermark passes the horizon.  Oracle: the plain batch
    self-join with identical bounds."""
    from ..streaming.events import stream_stream_click_purchase_join
    return stream_stream_click_purchase_join(spark, sf_dir)


@query("stream_lake_ingest")
def stream_lake_ingest(spark, sf_dir):
    """Streaming durable-sink path (streaming/events.py): events stream →
    day-partitioned parquet lake (file-sink checkpoint, exactly-once per
    drain) → read back → per-day rollup; oracle is the straight batch
    aggregation, so the write→commit→read-back cycle is what's checked."""
    from ..streaming.events import stream_lake_ingest as ingest
    return ingest(spark, sf_dir)

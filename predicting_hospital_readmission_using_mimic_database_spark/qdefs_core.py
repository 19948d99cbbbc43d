"""Core query definitions: SURVEY.md §2.1 S*, §2.2 P*, §2.3 J*, §2.4 W*,
§2.5 A*, §2.6 C*, §2.8 U1-U2 — each a named PySpark query with a DuckDB
oracle over the harness tables (FIXTURES.md §B role mapping).

Cross-engine parity rules used throughout:
- integer aggregates: Spark LongType <-> oracle COUNT(*) FILTER / CAST(BIGINT)
  (DuckDB SUM(int) is HUGEINT, so oracles avoid bare SUM on ints);
- fractional-day gaps: integer-µs difference / 86400e6 — one IEEE division,
  bit-identical in both engines;
- every computed column aliased identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from .functions import scalar as SC
from .functions import text as TX
from .operators import relational as R
from .plans.readmission import readmit_events, readmit_labels
from .registry import query
from .session import local_frame
from .sources.io import decoded_file_path, read_table


def _events(spark, sf):
    return read_table(spark, sf, "events")


def _lead_events(spark, sf) -> DataFrame:
    """Shared W1/W2 intermediate: next event per user (py:43,45)."""
    e = _events(spark, sf)
    e = R.lead_col(e, "ts", ["user_id"], ["ts", "event_id"], out="next_ts")
    return R.lead_col(e, "event_type", ["user_id"], ["ts", "event_id"], out="next_type")


_LEAD_SQL = """
    SELECT e.*,
           lead(ts) OVER w AS next_ts,
           lead(event_type) OVER w AS next_type
    FROM events e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

_LABELS_SQL = f"""
    WITH led AS ({_LEAD_SQL}),
    nulled AS (
      SELECT *,
             CASE WHEN next_type = 'signup' THEN NULL ELSE next_ts END AS next_ts_unpl
      FROM led
    ),
    filled AS (
      SELECT *,
             first_value(next_ts_unpl IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
             ) AS next_unplanned_ts
      FROM nulled
    )
    SELECT event_id, user_id, ts, event_type, next_unplanned_ts,
           (epoch_us(next_unplanned_ts) - epoch_us(ts)) / 86400000000.0 AS gap_days,
           CASE WHEN (epoch_us(next_unplanned_ts) - epoch_us(ts)) / 86400000000.0 < 30
                THEN 1 ELSE 0 END AS readmit_30d
    FROM filled
"""


# ---------------------------------------------------------------------------
# flagship (phase 0) — W1-W4 + C1 + C5 + A1/A10 in one plan
# ---------------------------------------------------------------------------


@query(
    "flagship_readmit_30d",
    oracle=f"""
    WITH lab AS ({_LABELS_SQL})
    SELECT event_type,
           count(*) AS n_events,
           CAST(count(*) FILTER (WHERE readmit_30d = 1) AS BIGINT) AS n_readmit,
           round(avg(readmit_30d), 4) AS readmit_rate
    FROM lab GROUP BY event_type ORDER BY event_type
    """,
)
def q_flagship(spark: SparkSession, sf: str) -> DataFrame:
    return readmit_events(spark, sf)


# ---------------------------------------------------------------------------
# S* — scans (§2.1)
# ---------------------------------------------------------------------------


@query("s1_scan_events", oracle="SELECT * FROM events")
def q_s1(spark, sf):
    return _events(spark, sf)


@query(
    "s3_scan_project",
    oracle="SELECT c_custkey, c_name, c_nationkey FROM customer",
)
def q_s3(spark, sf):
    # projection reaches the parquet scan (ReadSchema has 3 cols)
    return R.project(read_table(spark, sf, "customer"), ["c_custkey", "c_name", "c_nationkey"])


# ---------------------------------------------------------------------------
# P* — filters (§2.2)
# ---------------------------------------------------------------------------


@query(
    "p1_project",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def q_p1(spark, sf):
    return R.project(read_table(spark, sf, "orders"), ["o_orderkey", "o_orderstatus", "o_totalprice"])


@query(
    "p2_filter_isnull",
    oracle=f"""
    SELECT event_id, user_id, ts FROM ({_LEAD_SQL}) WHERE next_ts IS NULL
    """,
)
def q_p2(spark, sf):
    # the reference filters DEATHTIME IS NULL (py:85); here: last event per user
    return R.project(R.filter_null(_lead_events(spark, sf), "next_ts"), ["event_id", "user_id", "ts"])


@query("p3_filter_neq", oracle="SELECT * FROM events WHERE event_type <> 'signup'")
def q_p3(spark, sf):
    return R.filter_neq(_events(spark, sf), "event_type", "signup")


@query("p4_filter_eq", oracle="SELECT * FROM events WHERE event_type = 'purchase'")
def q_p4(spark, sf):
    return R.filter_eq(_events(spark, sf), "event_type", "purchase")


@query("p5_filter_numeric", oracle="SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 0")
def q_p5(spark, sf):
    c = read_table(spark, sf, "customer")
    return R.project(c.filter(F.col("c_acctbal") > 0), ["c_custkey", "c_acctbal"])


@query(
    "p6_filter_not_rlike",
    oracle="SELECT p_partkey, p_name FROM part WHERE NOT regexp_matches(p_name, '[24680]')",
)
def q_p6(spark, sf):
    # reference: ~str.contains('[a-zA-Z]') on ICD-9 codes (py:124)
    p = read_table(spark, sf, "part")
    return R.project(R.filter_not_rlike(p, "p_name", "[24680]"), ["p_partkey", "p_name"])


@query(
    "p7_filter_not_isin",
    oracle="SELECT c_custkey, c_mktsegment FROM customer "
    "WHERE c_mktsegment NOT IN ('BUILDING', 'MACHINERY')",
)
def q_p7(spark, sf):
    c = read_table(spark, sf, "customer")
    return R.project(
        R.filter_not_isin(c, "c_mktsegment", ["BUILDING", "MACHINERY"]),
        ["c_custkey", "c_mktsegment"],
    )


@query(
    "p8_split_counts",
    # COALESCE pins split_by's NULL routing: NULL-condition rows -> neg half
    oracle="SELECT COALESCE(value >= 10, FALSE) AS is_pos, count(*) AS n "
    "FROM events GROUP BY is_pos",
)
def q_p8(spark, sf):
    # boolean-mask split (py:442-444); both partitions summarized in one result
    pos, neg = R.split_by(_events(spark, sf), F.col("value") >= 10)
    tag = lambda df, v: df.select(F.lit(v).alias("is_pos"))  # noqa: E731
    return tag(pos, True).unionByName(tag(neg, False)).groupBy("is_pos").agg(F.count("*").alias("n"))


@query(
    "p9_dropna",
    oracle=f"""
    SELECT event_id, next_type FROM ({_LEAD_SQL})
    WHERE next_ts IS NOT NULL AND next_type IS NOT NULL
    """,
)
def q_p9(spark, sf):
    led = _lead_events(spark, sf)
    return R.project(R.drop_na(led, ["next_ts", "next_type"]), ["event_id", "next_type"])


@query(
    "p10_filter_notnull",
    oracle=f"SELECT event_id, gap_days FROM ({_LABELS_SQL}) WHERE gap_days IS NOT NULL",
)
def q_p10(spark, sf):
    lab = readmit_labels(_events(spark, sf))
    return R.project(R.filter_not_null(lab, "gap_days"), ["event_id", "gap_days"])


# ---------------------------------------------------------------------------
# J* — joins (§2.3)
# ---------------------------------------------------------------------------


@query(
    "j1_join_inner",
    oracle="""
    SELECT o_orderkey, o_custkey, c_mktsegment, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_j1(spark, sf):
    o = read_table(spark, sf, "orders").withColumnRenamed("o_custkey", "c_custkey")
    c = read_table(spark, sf, "customer")
    j = R.join(o, c.select("c_custkey", "c_mktsegment"), "c_custkey")
    return j.select(
        "o_orderkey", F.col("c_custkey").alias("o_custkey"), "c_mktsegment", "o_totalprice"
    )


@query(
    "j2_join_dims_broadcast",
    oracle="""
    SELECT r_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_j2(spark, sf):
    # dimension joins broadcast both small sides (py:192's patient dim join)
    c = read_table(spark, sf, "customer").withColumnRenamed("c_nationkey", "n_nationkey")
    n = read_table(spark, sf, "nation").withColumnRenamed("n_regionkey", "r_regionkey")
    r = read_table(spark, sf, "region")
    j = R.join(c, n, "n_nationkey", broadcast_right=True)
    j = R.join(j, r, "r_regionkey", broadcast_right=True)
    return j.groupBy("r_name").agg(F.count("*").alias("n_customers"))


@query(
    "j3_join_outer",
    oracle="""
    SELECT c_custkey, o_custkey, n_orders
    FROM customer
    FULL OUTER JOIN (
      SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
    ) agg ON c_custkey = o_custkey
    """,
)
def q_j3(spark, sf):
    # full-outer dim join (py:207); nulls where a customer has no orders
    c = read_table(spark, sf, "customer").select("c_custkey")
    agg = (
        read_table(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    return c.join(agg, c.c_custkey == agg.o_custkey, "outer").select(
        "c_custkey", "o_custkey", "n_orders"
    )


@query(
    "j4_join_left_composite",
    oracle="""
    SELECT l.l_orderkey, l.l_partkey, l.l_linenumber, g.grp_qty, g.grp_cnt
    FROM lineitem l
    LEFT JOIN (
      SELECT l_orderkey, l_partkey,
             round(sum(l_quantity), 2) AS grp_qty, count(*) AS grp_cnt
      FROM lineitem GROUP BY l_orderkey, l_partkey
    ) g ON l.l_orderkey = g.l_orderkey AND l.l_partkey = g.l_partkey
    """,
)
def q_j4(spark, sf):
    # composite-key left join (py:248 on [SUBJECT_ID, HADM_ID])
    li = read_table(spark, sf, "lineitem")
    g = li.groupBy("l_orderkey", "l_partkey").agg(
        F.round(F.sum("l_quantity"), 2).alias("grp_qty"), F.count("*").alias("grp_cnt")
    )
    j = R.join(li.select("l_orderkey", "l_partkey", "l_linenumber"), g,
               ["l_orderkey", "l_partkey"], how="left")
    return j.select("l_orderkey", "l_partkey", "l_linenumber", "grp_qty", "grp_cnt")


@query(
    "j5_positional_join",
    oracle="""
    SELECT n_name, r_name
    FROM (SELECT n_name, row_number() OVER (ORDER BY n_nationkey) AS __pos FROM nation) a
    JOIN (SELECT r_name, row_number() OVER (ORDER BY r_regionkey) AS __pos FROM region) b
    USING (__pos)
    """,
)
def q_j5(spark, sf):
    # pandas index-alignment join (py:172/py:332) via explicit row numbering
    n = read_table(spark, sf, "nation").select("n_nationkey", "n_name")
    r = read_table(spark, sf, "region").select("r_regionkey", "r_name")
    j = R.positional_join(n, r, ["n_nationkey"], ["r_regionkey"])
    return j.select("n_name", "r_name")


@query(
    "j7_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_j7(spark, sf):
    # complement-by-key (py:431 train = all minus test)
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return R.anti_join(c, o, "c_custkey").select("c_custkey", "c_name")


@query(
    "j8_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_j8(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return R.semi_join(c, o, "c_custkey").select("c_custkey", "c_name")


# ---------------------------------------------------------------------------
# W* — windows (§2.4)
# ---------------------------------------------------------------------------


@query(
    "w1_lead",
    oracle=f"SELECT event_id, user_id, ts, next_ts, next_type FROM ({_LEAD_SQL})",
)
def q_w1(spark, sf):
    return R.project(
        _lead_events(spark, sf), ["event_id", "user_id", "ts", "next_ts", "next_type"]
    )


@query(
    "w4_backfill",
    oracle=f"SELECT event_id, next_unplanned_ts FROM ({_LABELS_SQL})",
)
def q_w4(spark, sf):
    lab = readmit_labels(_events(spark, sf))
    return lab.select("event_id", "next_unplanned_ts")


@query(
    "w5_last_per_group",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_w5(spark, sf):
    # last row per group w/ explicit tiebreak (py:245 nth(-1))
    last = R.last_per_group(_events(spark, sf), ["user_id"], ["ts", "event_id"])
    return last.select("user_id", "event_id", "ts", "event_type")


@query("w6_sort", oracle="SELECT * FROM events ORDER BY user_id, ts")
def q_w6(spark, sf):
    return R.sort(_events(spark, sf), ["user_id", "ts"])


# ---------------------------------------------------------------------------
# A* — aggregations (§2.5)
# ---------------------------------------------------------------------------


@query(
    "a1_value_counts",
    oracle="SELECT event_type, count(*) AS count FROM events GROUP BY event_type",
)
def q_a1(spark, sf):
    return R.value_counts(_events(spark, sf), "event_type")


@query(
    "a2_count_distinct",
    oracle="SELECT count(DISTINCT l_partkey) AS n_distinct FROM lineitem",
)
def q_a2(spark, sf):
    return R.count_distinct(read_table(spark, sf, "lineitem"), "l_partkey")


@query(
    "a3_topk_by_freq",
    oracle="""
    SELECT c_mktsegment, count(*) AS count FROM customer
    GROUP BY c_mktsegment ORDER BY count DESC, c_mktsegment LIMIT 3
    """,
)
def q_a3(spark, sf):
    return R.topk_by_freq(read_table(spark, sf, "customer"), "c_mktsegment", 3)


@query(
    "a4_null_counts",
    oracle=f"""
    SELECT count(*) FILTER (WHERE next_ts IS NULL) AS nulls_next_ts,
           count(*) FILTER (WHERE next_type IS NULL) AS nulls_next_type
    FROM ({_LEAD_SQL})
    """,
)
def q_a4(spark, sf):
    return R.null_counts(_lead_events(spark, sf), ["next_ts", "next_type"])


@query(
    "a5_conditional_counts",
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE value >= 10 AND event_type = 'purchase') AS BIGINT) AS tp,
           CAST(count(*) FILTER (WHERE value >= 10 AND event_type <> 'purchase') AS BIGINT) AS fp,
           CAST(count(*) FILTER (WHERE value < 10 AND event_type = 'purchase') AS BIGINT) AS fn,
           CAST(count(*) FILTER (WHERE value < 10 AND event_type <> 'purchase') AS BIGINT) AS tn
    FROM events
    """,
)
def q_a5(spark, sf):
    # all four confusion cells in ONE pass (py:484-502's closures)
    e = _events(spark, sf)
    hit, actual = F.col("value") >= 10, F.col("event_type") == "purchase"
    return R.conditional_counts(
        e, {"tp": hit & actual, "fp": hit & ~actual, "fn": ~hit & actual, "tn": ~hit & ~actual}
    )


@query(
    "a6_group_min",
    oracle="SELECT o_custkey, min(o_orderdate) AS first_order_ts FROM orders GROUP BY o_custkey",
)
def q_a6(spark, sf):
    return R.group_min(read_table(spark, sf, "orders"), ["o_custkey"], "o_orderdate", "first_order_ts")


@query(
    "a7_collect_list_sorted",
    oracle="""
    SELECT l_orderkey,
           string_agg(l_linenumber::VARCHAR, ',' ORDER BY l_linenumber) AS linenumbers
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q_a7(spark, sf):
    # collect-to-list (py:156); engine defines list order = sorted
    li = read_table(spark, sf, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list("l_linenumber")), lambda x: x.cast("string")),
            ",",
        ).alias("linenumbers")
    )


@query(
    "a8_pivot_count",
    oracle="""
    SELECT l_orderkey,
           count(*) FILTER (WHERE l_returnflag = 'A') AS "A",
           count(*) FILTER (WHERE l_returnflag = 'N') AS "N",
           count(*) FILTER (WHERE l_returnflag = 'R') AS "R"
    FROM lineitem GROUP BY l_orderkey
    """,
)
def q_a8(spark, sf):
    # the diagnosis-category pivot matrix (py:164), explicit values = one pass
    li = read_table(spark, sf, "lineitem")
    out = R.pivot_count(li, "l_orderkey", "l_returnflag", ["A", "N", "R"])
    return out.select("l_orderkey", *[F.col(c).cast("long").alias(c) for c in ("A", "N", "R")])


@query(
    "a9_a10_prevalence",
    oracle=f"""
    SELECT count(*) AS n, round(avg(CAST(readmit_30d AS DOUBLE)), 4) AS prevalence
    FROM ({_LABELS_SQL})
    """,
)
def q_a9(spark, sf):
    return R.prevalence(readmit_labels(_events(spark, sf)), "readmit_30d")


@query(
    "a11_histogram",
    oracle="""
    SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin, count(*) AS count
    FROM events WHERE value IS NOT NULL GROUP BY bin
    """,
)
def q_a11(spark, sf):
    return R.histogram(_events(spark, sf), "value", 10.0)


@query(
    "a12_class_distribution",
    oracle="SELECT label, count(*) AS count FROM embeddings GROUP BY label",
)
def q_a12(spark, sf):
    return R.class_distribution(read_table(spark, sf, "embeddings"), "label")


# ---------------------------------------------------------------------------
# C* — scalar expressions (§2.6)
# ---------------------------------------------------------------------------


@query(
    "c1_case_label",
    oracle=f"""
    SELECT event_id,
           CASE WHEN gap_days < 30 THEN '1' ELSE '0' END AS readmit_flag
    FROM ({_LABELS_SQL})
    """,
)
def q_c1(spark, sf):
    # NULL gap -> '0', numpy NaN-compare parity (py:86)
    lab = readmit_labels(_events(spark, sf))
    return lab.select("event_id", SC.label_lt("gap_days", 30).alias("readmit_flag"))


@query(
    "c2_clamp",
    oracle="""
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 0.0 ELSE c_acctbal END AS acctbal_clamped
    FROM customer
    """,
)
def q_c2(spark, sf):
    c = read_table(spark, sf, "customer")
    return c.select("c_custkey", SC.clamp_below("c_acctbal", 0.0, 0.0).alias("acctbal_clamped"))


_SIZE_RANGES = [(1, 9, "xs"), (10, 19, "s"), (20, 29, "m"), (30, 39, "l"), (40, 50, "xl")]


@query(
    "c3_range_recode",
    oracle="""
    SELECT p_partkey,
           CASE WHEN p_size BETWEEN 1 AND 9 THEN 'xs'
                WHEN p_size BETWEEN 10 AND 19 THEN 's'
                WHEN p_size BETWEEN 20 AND 29 THEN 'm'
                WHEN p_size BETWEEN 30 AND 39 THEN 'l'
                WHEN p_size BETWEEN 40 AND 50 THEN 'xl'
                ELSE 'other' END AS size_class
    FROM part
    """,
)
def q_c3(spark, sf):
    # the 18-way ICD-9 recode shape (py:131-149) as ONE chained CASE
    p = read_table(spark, sf, "part")
    return p.select("p_partkey", SC.range_recode("p_size", _SIZE_RANGES, "other").alias("size_class"))


@query(
    "c4_parse_ts_coerce",
    oracle="""
    SELECT event_id,
           try_strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts_sec,
           try_strptime('not a timestamp', '%Y-%m-%d %H:%M:%S') AS bad_ts
    FROM events
    """,
)
def q_c4(spark, sf):
    # errors='coerce' semantics under ANSI mode (py:26-28)
    e = _events(spark, sf)
    return e.select(
        "event_id",
        SC.parse_ts(F.date_format("ts", "yyyy-MM-dd HH:mm:ss")).alias("ts_sec"),
        SC.parse_ts(F.lit("not a timestamp")).alias("bad_ts"),
    )


@query(
    "c5_gap_days_frac",
    oracle=f"SELECT event_id, gap_days FROM ({_LABELS_SQL})",
)
def q_c5(spark, sf):
    return readmit_labels(_events(spark, sf)).select("event_id", "gap_days")


@query(
    "c6_years_floor",
    oracle="""
    WITH firsts AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
    SELECT event_id,
           CAST(floor((CAST(e.ts AS DATE) - CAST(f.first_ts AS DATE)) / 365.0) AS BIGINT)
             AS years_since_first
    FROM events e JOIN firsts f USING (user_id)
    """,
)
def q_c6(spark, sf):
    # age-in-years computation (py:214): datediff // 365
    e = _events(spark, sf)
    firsts = R.group_min(e, ["user_id"], "ts", "first_ts")
    j = R.join(e, firsts, "user_id", broadcast_right=True)
    return j.select(
        "event_id", SC.years_between_floor("ts", "first_ts").alias("years_since_first")
    )


@query(
    "c7_cast_int",
    oracle="SELECT p_partkey, try_cast(substring(p_brand, 7, 2) AS INTEGER) AS brand_num FROM part",
)
def q_c7(spark, sf):
    p = read_table(spark, sf, "part")
    return p.select("p_partkey", SC.to_int(TX.substr_prefix(F.substring("p_brand", 7, 2), 2)).alias("brand_num"))


@query(
    "c9_pct_round",
    oracle="""
    SELECT c_mktsegment, count(*) AS count,
           round(count(*) / (sum(count(*)) OVER ()) * 100.0, 3) AS pct
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_c9(spark, sf):
    vc = R.value_counts(read_table(spark, sf, "customer"), "c_mktsegment")
    # INVARIANT: the empty-frame window runs AFTER value_counts, whose
    # cardinality is the segment count (single digits at any sf) — never
    # use this idiom pre-aggregation; on a big frame the global window is
    # a single-partition sink (prefer a scalar agg + broadcast cross-join)
    total = Window.partitionBy()
    return vc.withColumn("pct", SC.pct_round(F.col("count"), F.sum("count").over(total)))


# ---------------------------------------------------------------------------
# U1/U2 — set ops / shuffle (§2.8)
# ---------------------------------------------------------------------------


@query(
    "u1_union_all",
    oracle="""
    SELECT * FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT * FROM events WHERE event_type = 'error'
    """,
)
def q_u1(spark, sf):
    e = _events(spark, sf)
    return R.filter_eq(e, "event_type", "purchase").unionByName(
        R.filter_eq(e, "event_type", "error")
    )


@query("u2_full_shuffle", oracle="SELECT * FROM events")
def q_u2(spark, sf):
    # seeded full shuffle (py:424); same multiset, order-insensitive compare.
    # This is pandas PARITY (a global range sort on rand) — engine code that
    # just needs rows redistributed should use sampling.shuffle_rows (a
    # rand-keyed repartition: one shuffle, no sort, no range exchange).
    return _events(spark, sf).orderBy(F.rand(42))


# ---------------------------------------------------------------------------
# U3-U8 — sampling / rebalancing (§2.8); operators/sampling.py
# ---------------------------------------------------------------------------

from .operators import sampling as SA  # noqa: E402


def _emb_pos(spark, sf):
    return read_table(spark, sf, "embeddings").select(
        "vec_id", "embedding", (F.col("label") >= 5).cast("int").alias("pos")
    )


#: both rebalance entries emit per-class counts equal to the minority size —
#: deterministic even though WHICH rows survive is seed-dependent
_BALANCED_COUNTS_SQL = """
    WITH c AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos, count(*) AS cnt
      FROM embeddings GROUP BY 1
    )
    SELECT pos, (SELECT CAST(min(cnt) AS BIGINT) FROM c) AS n FROM c
"""


@query(
    "u3_random_split",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_total,
           TRUE AS partitions_input, TRUE AS train_frac_close
    FROM events
    """,
)
def q_u3(spark, sf):
    """U3 — randomSplit([.8,.2], 42) (py:428-431). WHICH rows land on each
    side is seed-dependent (not oracle-able), but the sides must partition
    the input exactly and the train fraction must sit near 0.8 — emitted
    as counts/booleans DuckDB recomputes from the same parquet."""
    e = _events(spark, sf)
    tr, te = SA.random_split(e, (0.8, 0.2), seed=42)
    n_tr, n_te, n = tr.count(), te.count(), e.count()
    return local_frame(
        spark, [(n, bool(n_tr + n_te == n), bool(abs(n_tr / max(n, 1) - 0.8) < 0.05))],
        "n_total long, partitions_input boolean, train_frac_close boolean",
    )


@query("u4_balance_undersample", oracle=_BALANCED_COUNTS_SQL)
def q_u4(spark, sf):
    """U4/U8 — exact 1:1 undersample (py:447): per-class counts equal the
    global minority count (exact oracle — counts are seed-independent)."""
    bal = SA.balance_undersample(_emb_pos(spark, sf), "pos", seed=42)
    return bal.groupBy("pos").agg(F.count("*").alias("n"))


@query(
    "u5_oversample",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos, count(*) AS cnt
      FROM embeddings GROUP BY 1
    )
    SELECT CAST(max(cnt) AS BIGINT) AS n_majority,
           CAST(max(cnt) AS BIGINT) AS n_minority_after,
           TRUE AS minority_keeps_originals
    FROM c
    """,
)
def q_u5(spark, sf):
    """U5 — RandomOverSampler parity (py:683-684), EXACT-deficit mode
    (imblearn's byte-exact contract): every class lands on exactly the
    majority count — the oracle pins ``n_minority_after == n_majority``
    as a hard equality, not a 10%% band. Originals are all kept
    (construction: originals + exactly-deficit draws; boolean pinned via
    the count inequality)."""
    base = _emb_pos(spark, sf)
    orig = {r["pos"]: r["n"] for r in base.groupBy("pos").agg(F.count("*").alias("n")).collect()}
    over = SA.oversample_with_replacement(base, "pos", seed=42, exact=True)
    after = {r["pos"]: r["n"] for r in over.groupBy("pos").agg(F.count("*").alias("n")).collect()}
    maj = max(orig, key=orig.get)
    mino = min(orig, key=orig.get)
    return local_frame(
        spark,
        [
            (
                after[maj],
                after[mino],
                bool(after[mino] >= orig[mino]),
            )
        ],
        "n_majority long, n_minority_after long, minority_keeps_originals boolean",
    )


@query(
    "u6_smote",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos, count(*) AS cnt
      FROM embeddings GROUP BY 1
    )
    SELECT CAST((SELECT cnt FROM c WHERE pos = 1) AS BIGINT) AS n_minority,
           CAST(greatest((SELECT cnt FROM c WHERE pos = 0)
                         - (SELECT cnt FROM c WHERE pos = 1), 0) AS BIGINT)
             AS n_synthetic,
           CAST(0 AS BIGINT) AS n_out_of_envelope
    FROM (SELECT 1)
    """,
)
def q_u6(spark, sf):
    """U6 — SMOTE on LSH-kNN (py:772,814), imblearn ratio=1 semantics via
    ``target_ratio=1.0``: synthetic count EXACTLY equals the class deficit
    (DuckDB recomputes it from the parquet — exact oracle), and every
    synthetic component stays inside the minority's per-dimension
    [min, max] envelope (lerp cannot escape it). LSH threshold /
    bucket_length are auto-tuned from the sampled kNN-distance quantile —
    no corpus-specific constants."""
    base = _emb_pos(spark, sf)
    made = SA.smote(
        base, "vec_id", "embedding", "pos", minority_value=1, k=2, seed=42,
        num_hash_tables=5, target_ratio=1.0,
    )
    out = made.cache()  # three invariant checks below — don't re-run the kNN per count
    synth = out.filter(F.col("vec_id") < 0)
    mino = base.filter(F.col("pos") == 1)
    # envelope check as ONE aggregate per side: per-dim min/max arrays via
    # element_at (no posexplode of the synthetic rows — the old explode +
    # join + filter dominated the entry's runtime), compared dim-by-dim on
    # 2 x dim scalars
    dim = len(mino.select("embedding").first()[0])

    def _bounds(sdf):
        # bounds AND row count in ONE aggregate job per side
        return sdf.agg(
            F.array(*[F.min(F.element_at("embedding", i + 1)) for i in range(dim)]).alias("lo"),
            F.array(*[F.max(F.element_at("embedding", i + 1)) for i in range(dim)]).alias("hi"),
            F.count("*").alias("n"),
        ).first()

    mb, sb = _bounds(mino), _bounds(synth)
    viol = sum(
        1
        for i in range(dim)
        if sb["lo"] is not None
        and sb["lo"][i] is not None
        and (sb["lo"][i] < mb["lo"][i] - 1e-6 or sb["hi"][i] > mb["hi"][i] + 1e-6)
    )
    n_min, n_synth = mb["n"], sb["n"]
    out.unpersist()
    SA.release_aux_caches(made)
    return local_frame(
        spark, [(n_min, n_synth, int(viol))],
        "n_minority long, n_synthetic long, n_out_of_envelope long",
    )


#: NearMiss keeps ALL rows of the designated minority class and at most
#: |minority| of the OTHER class — if the designated class is actually the
#: larger one (true at sf0.001), the other class passes through whole.
_NEARMISS_COUNTS_SQL = """
    WITH c AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos, count(*) AS cnt
      FROM embeddings GROUP BY 1
    )
    SELECT 1 AS pos, CAST((SELECT cnt FROM c WHERE pos = 1) AS BIGINT) AS n
    UNION ALL
    SELECT 0 AS pos,
           CAST(least((SELECT cnt FROM c WHERE pos = 0),
                      (SELECT cnt FROM c WHERE pos = 1)) AS BIGINT) AS n
"""


@query("u7_nearmiss", oracle=_NEARMISS_COUNTS_SQL)
def q_u7(spark, sf):
    """U7 — NearMiss-1 (py:773,816): keeps min(|majority|, |minority|)
    majority rows (closest mean-distance to minority) plus the whole
    minority — per-class counts hash-checked."""
    out = SA.nearmiss(
        _emb_pos(spark, sf), "vec_id", "embedding", "pos", minority_value=1,
        k=3, seed=42, num_hash_tables=5,
    )
    return out.groupBy("pos").agg(F.count("*").alias("n"))


@query(
    "u8_random_under",
    oracle="""
    WITH c AS (
      SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos, count(*) AS cnt
      FROM embeddings GROUP BY 1
    )
    SELECT CAST(2 * min(cnt) AS BIGINT) AS n,
           CAST(0.5 AS DOUBLE) AS prevalence
    FROM c
    """,
)
def q_u8(spark, sf):
    """U8 — RandomUnderSampler == U4 with uniform selection (py:773,817);
    emits post-balance count (2 x global minority — exact) and prevalence
    (0.5 exactly, by construction) — both DuckDB-recomputable."""
    bal = SA.balance_undersample(_emb_pos(spark, sf), "pos", seed=7)
    return R.prevalence(bal, "pos")


@query(
    "j6_positional_join_suffixes",
    oracle="""
    SELECT c_custkey AS c_custkey_caller, c_acctbal,
           c_custkey AS c_custkey_other, c_mktsegment
    FROM customer
    """,
)
def q_j6(spark, sf):
    """J6 — positional join with pandas-style suffix disambiguation
    (py:332): both sides ordered by the same unique key, so aligned rows
    are the same entity and the oracle is a self-projection."""
    c = read_table(spark, sf, "customer")
    return R.positional_join(
        c.select("c_custkey", "c_acctbal"),
        c.select("c_custkey", "c_mktsegment"),
        ["c_custkey"],
        ["c_custkey"],
        suffixes=("_caller", "_other"),
    )


@query(
    "w4b_forward_fill",
    oracle=f"""
    WITH led AS ({_LEAD_SQL}),
    nulled AS (
      SELECT event_id, user_id, ts,
             CASE WHEN next_type = 'signup' THEN NULL ELSE next_ts END AS v
      FROM led
    )
    SELECT event_id,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_ffill
    FROM nulled
    """,
)
def q_w4b(spark, sf):
    """forward_fill (ffill twin of W4): last non-null at-or-before each row."""
    led = _lead_events(spark, sf)
    nulled = led.select(
        "event_id", "user_id", "ts",
        F.when(F.col("next_type") == "signup", F.lit(None)).otherwise(F.col("next_ts")).alias("v"),
    )
    out = R.forward_fill(nulled, "v", ["user_id"], ["ts", "event_id"], out="v_ffill")
    return out.select("event_id", "v_ffill")


@query(
    "a2b_approx_count_distinct",
    oracle="""
    SELECT CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_distinct_exact,
           TRUE AS hll_within_5pct
    FROM lineitem
    """,
)
def q_a2b(spark, sf):
    """A2 scale variant — HLL sketch count-distinct. The sketch estimate
    itself is engine-specific, so the entry emits the EXACT distinct count
    (DuckDB recomputes it) plus the sketch-accuracy invariant as a
    boolean (within 5% of exact)."""
    li = read_table(spark, sf, "lineitem")
    approx = R.count_distinct(li, "l_partkey", approx=True)
    exact = R.count_distinct(li, "l_partkey", approx=False)
    a = approx.collect()[0]["n_distinct"]
    x = exact.collect()[0]["n_distinct"]
    return local_frame(
        spark, [(int(x), bool(abs(a - x) <= 0.05 * x))],
        "n_distinct_exact long, hll_within_5pct boolean",
    )


@query(
    "a13_percentiles",
    oracle="""
    SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
    FROM lineitem
    """,
)
def q_a13(spark, sf):
    """Exact percentiles (SQL-standard continuous interpolation — identical
    in both engines). Scale note: exact percentile sorts per group; at
    100 TB prefer approx_percentile (a13b)."""
    li = read_table(spark, sf, "lineitem")
    return li.agg(
        *[
            F.round(F.expr(f"percentile(l_extendedprice, {q})"), 6).alias(f"p{int(q*100)}")
            for q in (0.25, 0.5, 0.75, 0.99)
        ]
    )


@query(
    "a13b_approx_percentiles",
    oracle="""
    SELECT round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 6)
             AS exact_p50,
           TRUE AS approx_within_2pct
    FROM lineitem
    """,
)
def q_a13b(spark, sf):
    """approx_percentile (the 100 TB estimator). The sketch output is
    engine-specific, so the entry emits the EXACT median (DuckDB
    recomputes it) plus the sketch-accuracy invariant as a boolean
    (within 2% of exact)."""
    li = read_table(spark, sf, "lineitem")
    row = li.agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 10000)").alias("ap50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        # HALF_UP rounding must happen ENGINE-side (Python round is
        # banker's — a2b/a13 parity rule)
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("p50_r"),
    ).collect()[0]
    rel = abs(row["ap50"] - row["p50"]) / max(abs(row["p50"]), 1e-9)
    return local_frame(
        spark, [(float(row["p50_r"]), bool(rel < 0.02))],
        "exact_p50 double, approx_within_2pct boolean",
    )


@query(
    "a14_corr_cov",
    oracle="""
    SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 6) AS cov_qty_price,
           round(stddev_samp(l_discount), 6) AS sd_discount
    FROM lineitem
    """,
)
def q_a14(spark, sf):
    """Correlation / covariance / stddev in one pass (sample variants on
    both engines)."""
    li = read_table(spark, sf, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("cov_qty_price"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
    )


@query(
    "j9_asof_join",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         v AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view')
    SELECT p.event_id, p.user_id, p.ts,
           v.ts AS view_ts, round(v.value, 6) AS view_value,
           CAST(epoch_us(p.ts) - epoch_us(v.ts) AS DOUBLE) AS gap_us
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def q_j9(spark, sf):
    """J9 — as-of join: each purchase gets the user's most recent prior (or
    simultaneous) view. Engine side is the union-tag + running-``last``
    composition (operators.relational.asof_join) — one shuffle on user_id,
    no range join; oracle is DuckDB's native ASOF LEFT JOIN. (user_id, ts)
    is unique in the harness events table, so the match is deterministic."""
    e = _events(spark, sf)
    p = e.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    v = e.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    j = R.asof_join(p, v, ["user_id"], "ts", "ts", ["value"])
    return j.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("view_ts"),
        F.round("value_asof", 6).alias("view_value"),
        # DOUBLE not BIGINT: a nullable int64 column round-trips through the
        # driver's pandas fetch as float64, so both engines emit double
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_asof")))
        .cast("double")
        .alias("gap_us"),
    )


@query(
    "w7_sessionize",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM g
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts) AS session_start, max(ts) AS session_end,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us
    FROM s GROUP BY user_id, session_id
    """,
)
def q_w7(spark, sf):
    """W7 — batch sessionization (6 h inactivity gap) + per-session rollup.
    Batch/backfill twin of streaming.ingest.sessionized_counts; one shuffle
    on user_id, both windows share a single sort."""
    e = _events(spark, sf).select("user_id", "ts")
    return R.session_stats(e, "user_id", "ts", gap="6 hours")


@query(
    "c10_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def q_c10(spark, sf):
    """C10 — typed JSON extraction from the ``props`` string column.
    ``from_json`` with an explicit schema (JVM-side, codegen) — the scale
    path for semi-structured event payloads; never a Python json.loads."""
    e = _events(spark, sf)
    parsed = e.withColumn("__p", F.from_json(F.col("props"), "k BIGINT"))
    return parsed.select("event_id", F.col("__p.k").alias("prop_k"))


@query(
    "w8_rolling_avg",
    oracle="""
    SELECT event_id, user_id,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 DAY PRECEDING AND CURRENT ROW), 6) AS roll_avg
    FROM events
    """,
)
def q_w8(spark, sf):
    """W8 — trailing 1-day per-user rolling average over event time
    (boundary-inclusive RANGE frame on integer microseconds)."""
    e = _events(spark, sf).select("event_id", "user_id", "ts", "value")
    r = R.rolling_time_agg(e, "user_id", "ts", "value", window="1 day", aggs=("avg",))
    return r.select("event_id", "user_id", F.round("roll_avg", 6).alias("roll_avg"))


@query(
    "w9_ntile_global",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
                AS INT) AS quartile
    FROM lineitem
    """,
)
def q_w9(spark, sf):
    """W9 — global NTILE(4) by price WITHOUT a single-task window: rides
    global_index (range-partition + broadcast offsets) + NTILE's exact
    bucket arithmetic. Ordering made unique by (orderkey, linenumber) so
    the bucket assignment is deterministic cross-engine."""
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    q = R.ntile_global(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], 4, out="quartile"
    )
    return q.select("l_orderkey", "l_linenumber", "quartile")


@query(
    "a15_rollup",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def q_a15(spark, sf):
    """A15 — single-pass ROLLUP with grouping_id level markers (one
    shuffle for all three levels; map-side partials per grouping set)."""
    o = read_table(spark, sf, "orders")
    return R.grouping_sets_agg(
        o,
        ["o_orderstatus", "o_orderpriority"],
        [F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")],
    ).select("o_orderstatus", "o_orderpriority", "gid", "n", "total")


@query(
    "j10_band_join",
    oracle="""
    SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
           round(abs(a.p_retailprice - b.p_retailprice), 6) AS price_gap
    FROM part a JOIN part b
      ON b.p_retailprice BETWEEN a.p_retailprice - 0.1
                             AND a.p_retailprice + 0.1
     AND a.p_partkey < b.p_partkey
    """,
)
def q_j10(spark, sf):
    """J10 — keyless BAND JOIN (|price diff| <= 0.1) via the grid-bucket
    equi-join (operators.relational.band_join): a plain range-theta join
    would plan as BroadcastNestedLoopJoin (O(n^2) comparisons); bucketing
    both sides to floor(price/width) cells turns it into a shuffled hash
    join whose candidate count tracks true selectivity. The oracle is
    DuckDB's native range join over the same predicate."""
    p = read_table(spark, sf, "part").select("p_partkey", "p_retailprice")
    a = p.select(F.col("p_partkey").alias("a_key"), F.col("p_retailprice").alias("a_price"))
    b = p.select(F.col("p_partkey").alias("b_key"), F.col("p_retailprice").alias("b_price"))
    j = R.band_join(a, b, "a_price", "b_price", band=0.1)
    return j.filter(F.col("a_key") < F.col("b_key")).select(
        "a_key",
        "b_key",
        F.round(F.abs(F.col("a_price") - F.col("b_price")), 6).alias("price_gap"),
    )


@query(
    "j11_salted_join",
    oracle="""
    SELECT event_id, upper(event_type) AS type_uc
    FROM events WHERE event_type IS NOT NULL
    """,
)
def q_j11(spark, sf):
    """J11 — skew-resistant SALTED equi-join == plain join, proven by
    oracle: the events fact (5 hot event_type keys — worst-case skew: every
    row is a hot key) joins a derived type dim with the left side salted
    into 8 sub-keys and the dim replicated per salt
    (operators.relational.salted_join), spreading each hot key over 8
    tasks. DuckDB recomputes the equivalent join result directly; identical
    output == salting changed the physical distribution only."""
    e = read_table(spark, sf, "events").select("event_id", "event_type")
    dim = (
        e.filter(F.col("event_type").isNotNull())
        .select("event_type")
        .distinct()
        .withColumn("type_uc", F.upper("event_type"))
    )
    j = R.salted_join(e, dim, "event_type", salt=8)
    return j.select("event_id", "type_uc")


@query(
    "w10_percent_rank_global",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume_dist
    FROM lineitem
    WINDOW w AS (ORDER BY l_extendedprice, l_orderkey, l_linenumber)
    """,
)
def q_w10(spark, sf):
    """W10 — GLOBAL percent_rank + cume_dist WITHOUT the single-task
    global window: global_index (range partition + per-partition
    row_number + broadcast offsets) gives each row its exact global
    position; (pos-1)/(n-1) and pos/n are then pure arithmetic — IEEE
    double division on identical integers, so the values hash-match
    DuckDB's native window functions bit-for-bit. Ordering is made unique
    by (orderkey, linenumber), so ranks are deterministic."""
    li = read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    idx = R.global_index(
        li, ["l_extendedprice", "l_orderkey", "l_linenumber"], out="__pos"
    )
    n = li.count()
    return idx.select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("__pos") - 1) / F.lit(float(n - 1))).alias("pct_rank"),
        (F.col("__pos") / F.lit(float(n))).alias("cume_dist"),
    )


@query(
    "u10_time_split",
    oracle="""
    WITH r AS (
      SELECT ts, row_number() OVER (ORDER BY ts, event_id) AS rn,
             count(*) OVER () AS n
      FROM events
    )
    SELECT CASE WHEN rn * 10 <= n * 8 THEN 'train'
                WHEN rn * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_rows, min(ts) AS ts_lo, max(ts) AS ts_hi
    FROM r GROUP BY 1
    """,
)
def q_u10(spark, sf):
    """U10 — leakage-free TIME-BASED train/val/test split (80/10/10 by
    event time, the split a forecasting/causal pipeline needs instead of
    a random one): exact global position over (ts, event_id) via
    global_index, integer-scaled thresholds (rn*10 <= n*8 — no float
    boundary ambiguity cross-engine), per-split counts and time ranges.
    No global sort bottleneck: range partition + broadcast offsets."""
    e = read_table(spark, sf, "events").select("ts", "event_id")
    idx = R.global_index(e, ["ts", "event_id"], out="__pos")
    n = e.count()
    split = (
        F.when(F.col("__pos") * 10 <= n * 8, "train")
        .when(F.col("__pos") * 10 <= n * 9, "val")
        .otherwise("test")
    )
    return (
        idx.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("ts").alias("ts_lo"),
            F.max("ts").alias("ts_hi"),
        )
    )


@query(
    "a16_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def q_a16(spark, sf):
    """A16 — arbitrary GROUPING SETS (neither rollup nor cube: the two
    independent per-dimension marginals in ONE shuffle — the OLAP
    alternative to two groupBy jobs over the same scan). Spark expands
    the sets map-side (one Expand + one exchange); grouping_id
    disambiguates which dimension each output row aggregates away."""
    o = read_table(spark, sf, "orders")
    o.createOrReplaceTempView("a16_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS LONG) AS gid,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM a16_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """)


@query(
    "s6_merge_upsert",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 0.0 FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           c.c_name,
           COALESCE(u.c_acctbal, c.c_acctbal) AS c_acctbal
    FROM customer c FULL OUTER JOIN upd u USING (c_custkey)
    """,
)
def q_s6(spark, sf):
    """S6 — warehouse MERGE/upsert over immutable parquet
    (operators.relational.merge_upsert): a delta of updated balances plus
    brand-new keys full-outer-merges into the base with column-wise
    COALESCE — matched rows updated, new rows inserted (base-only columns
    NULL), untouched rows passed through. One shuffle on the key;
    broadcast the delta when it is small. DuckDB recomputes the merge
    with the equivalent FULL OUTER JOIN."""
    c = read_table(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    upd = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal"))
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    return R.merge_upsert(c, upd, "c_custkey", update_cols=["c_acctbal"])


@query(
    "a17_group_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           round(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           round(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_a17(spark, sf):
    """A17 — EXACT group-wise percentiles (linear interpolation — the
    same definition as numpy/DuckDB quantile_cont), one shuffle:
    Spark's `percentile` aggregate, NOT approx_percentile, so the values
    hash-match the oracle after micro-rounding. The group-by bounds
    per-task state; for a low-cardinality global percentile at 100 TB use
    a13b's sketch instead."""
    o = read_table(spark, sf, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(o_totalprice, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.75)"), 6).alias("p75"),
        F.count("*").alias("n"),
    )


@query(
    "j12_supplier_region_rollup",
    oracle="""
    SELECT r_name, n_name,
           count(*) AS n_suppliers,
           round(avg(s_acctbal), 6) AS avg_acctbal,
           round(sum(s_acctbal), 4) AS total_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_j12(spark, sf):
    """J12 — snowflake dim chain (supplier -> nation -> region, the
    TPC-H Q5 join shape) with a per-(region, nation) rollup: both dims
    broadcast (25 + 5 rows — no shuffle for the joins), ONE exchange for
    the aggregate; partial sums map-side. sum(double) needs a stable
    grouping, not a stable order: addition reorders across partitions,
    so totals are rounded to the oracle's comparison quantum."""
    s = read_table(spark, sf, "supplier")
    n = read_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"), "n_name", "n_regionkey"
    )
    r = read_table(spark, sf, "region")
    j = s.join(F.broadcast(n), "s_nationkey").join(
        F.broadcast(r.withColumnRenamed("r_regionkey", "n_regionkey")), "n_regionkey"
    )
    return j.groupBy("r_name", "n_name").agg(
        F.count("*").alias("n_suppliers"),
        F.round(F.avg("s_acctbal"), 6).alias("avg_acctbal"),
        F.round(F.sum("s_acctbal"), 4).alias("total_acctbal"),
    )


@query(
    "w12_session_funnel",
    oracle="""
    WITH g AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      -- ORDER BY (ts, event_id): same total order as CTE g and the Spark
      -- side, so tied timestamps at a session boundary accumulate
      -- new_sess identically in both engines
      SELECT user_id, ts, event_type,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM g
    ), f AS (
      SELECT user_id, sid,
             min(ts) FILTER (WHERE event_type = 'view') AS t_view,
             min(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM s GROUP BY user_id, sid
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT)
             AS n_view_sessions,
           CAST(count(*) FILTER (WHERE t_purchase > t_view) AS BIGINT)
             AS n_converted
    FROM f GROUP BY user_id
    """,
)
def q_w12(spark, sf):
    """W12 — session CONVERSION FUNNEL (view -> later purchase within the
    same 6h-gap session), the product-analytics composition: gap
    sessionization (one user_id shuffle shared by both windows) ->
    per-session conditional min-ts aggregates -> per-user funnel counts.
    A second shuffle for the session rollup; everything else rides the
    first. Exact per-user funnel vs DuckDB's identical chain."""
    e = _events(spark, sf).select("user_id", "ts", "event_id", "event_type")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 21_600_000_000
    new_sess = (
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)) > gap_us),
            1,
        ).otherwise(0)
    )
    s = e.withColumn("__new", new_sess).withColumn(
        "sid",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    f = s.groupBy("user_id", "sid").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return f.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.count("t_view").alias("n_view_sessions"),
        F.count(F.when(F.col("t_purchase") > F.col("t_view"), 1)).alias("n_converted"),
    )


@query(
    "j13_interval_join",
    oracle="""
    WITH o AS (
      SELECT o_orderkey,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS s,
             date_diff('day', DATE '1970-01-01', o_orderdate)
               + 7 + o_orderkey % 90 AS e
      FROM orders
    ), p AS (
      SELECT l_orderkey AS okey,
             date_diff('day', DATE '1970-01-01', l_shipdate) AS d
      FROM lineitem
    )
    SELECT o.o_orderkey, CAST(count(p.d) AS BIGINT) AS n_in_window
    FROM o LEFT JOIN p
      ON p.okey = o.o_orderkey AND p.d >= o.s AND p.d < o.e
    GROUP BY o.o_orderkey
    """,
)
def q_j13(spark, sf):
    """J13 — VARIABLE-WIDTH interval-containment join, the production
    "event inside its entity's validity window" shape: each order owns a
    7–96-day shipping window ``[orderdate, orderdate + 7 + key%90)`` and
    counts ITS lineitems shipped inside it (equi-key ``o_orderkey`` +
    the half-open range), via operators.relational.interval_join: the
    interval side explodes into the grid cells it overlaps, the point
    side hashes to one cell, and the match is a shuffled hash equi-join
    on (key, cell) + exact half-open filter — the Spark-side equivalent
    of DuckDB's IEJoin, immune to BroadcastNestedLoopJoin. ``how='left'``
    keeps zero-ship orders (the outer re-attach pattern shared with
    band_join). Dates ride as epoch days so the grid is integer
    arithmetic. The KEYLESS grid path (no equi-key, candidates bounded
    by cell density alone) is nested-loop-equivalence- and plan-tested
    in tests/test_relational.py — a keyless dense-window variant at
    bench scale would measure the workload's quadratic TRUE-pair count
    (~1e8 qualifying pairs), not the operator."""
    epoch = F.lit("1970-01-01")
    o = read_table(spark, sf, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.datediff(F.col("o_orderdate"), epoch).cast("long").alias("s"),
        (
            F.datediff(F.col("o_orderdate"), epoch)
            + 7
            + F.col("o_orderkey") % 90
        ).cast("long").alias("e"),
    )
    p = read_table(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("okey"),
        F.datediff(F.col("l_shipdate"), epoch).cast("long").alias("d"),
    )
    j = R.interval_join(p, o, "d", "s", "e", cell_width=32.0, keys=("okey",), how="left")
    return (
        j.groupBy("okey")
        .agg(F.count("d").cast("long").alias("n_in_window"))
        .withColumnRenamed("okey", "o_orderkey")
    )


@query(
    "j14_fuzzy_join",
    oracle="""
    WITH dirty AS (
      SELECT c_custkey AS d_key,
             concat(substr(c_name, 1, 9 + c_custkey % 9), 'X',
                    substr(c_name, 11 + c_custkey % 9)) AS d_name
      FROM customer WHERE c_custkey % 101 = 0
    )
    SELECT d.d_key, m.c_custkey AS m_key,
           CAST(levenshtein(d.d_name, m.c_name) AS INT) AS dist
    FROM dirty d JOIN customer m
      ON levenshtein(d.d_name, m.c_name) <= 1
    """,
)
def q_j14(spark, sf):
    """J14 — fuzzy (edit-distance <= 1) RECORD LINKAGE: a 'dirty' feed
    (every 101st customer with one digit corrupted to 'X' at a
    key-dependent position — identical deterministic corruption on both
    engines) matched back to the clean master by
    operators.relational.fuzzy_join. Deletion-neighborhood (FastSS /
    SymSpell) blocking turns the O(|dirty| x |master|)-levenshtein
    nested loop into a hash equi-join on <=k-deletion variant strings +
    exact filter — chosen over positional segment schemes precisely
    because these 'Customer#000000042' names share a constant prefix
    that would collapse any position-keyed block into one hot
    cross-join bucket. Each dirty row must recover its own master
    (substitution distance 1) plus any honest extra near-matches; the
    oracle is DuckDB's literal nested predicate — any candidate the
    blocking misses breaks the hash."""
    c = read_table(spark, sf, "customer").select("c_custkey", "c_name")
    p = F.lit(10) + F.col("d_key") % 9
    dirty = (
        c.filter(F.col("c_custkey") % 101 == 0)
        .select(F.col("c_custkey").alias("d_key"), F.col("c_name").alias("d_name"))
        .select(
            "d_key",
            F.concat(
                F.substring(F.col("d_name"), F.lit(1), p - 1),
                F.lit("X"),
                F.substring(F.col("d_name"), p + 1, F.length("d_name")),
            ).alias("d_name"),
        )
    )
    m = c.select(F.col("c_custkey").alias("m_key"), F.col("c_name").alias("m_name"))
    j = R.fuzzy_join(dirty, m, "d_name", "m_name", max_dist=1)
    return j.select("d_key", "m_key", F.col("dist").cast("int").alias("dist"))


@query(
    "w13_rolling_median",
    oracle="""
    SELECT event_id,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS med7
    FROM events
    """,
)
def q_w13(spark, sf):
    """W13 — exact 7-row rolling median of event values per user via
    operators.relational.rolling_median: Spark lacks a median window
    aggregate, so the bounded frame is collected (<= 7 values),
    sort_array'd, and middle-picked — all JVM inside the ONE partitioned
    window shuffle, no UDF. Rounded(6) on both engines because DuckDB's
    median interpolates even frames as a + 0.5*(b-a) vs the operator's
    (a+b)/2 — equal to the last ulp only."""
    e = read_table(spark, sf, "events").select("event_id", "ts", "user_id", "value")
    out = R.rolling_median(
        e, "value", ["user_id"], ["ts", "event_id"], preceding=6, out="med7"
    )
    return out.select("event_id", F.round("med7", 6).alias("med7"))


#: s8 export dirs already registered for exit cleanup (one per sf)
_S8_DIRS: set[str] = set()


@query(
    "s8_json_roundtrip",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(sum(value), 4) AS total
    FROM events WHERE event_type IS NOT NULL
    GROUP BY event_type
    """,
)
def q_s8(spark, sf):
    """S8 — JSON-lines source round-trip (sources.io.read_json/
    write_json): the events fact is exported to JSON and read back with
    an EXPLICIT schema (no inference scan — at 100 TB inference reads
    the corpus twice), then aggregated; matching the parquet-side oracle
    proves the byte round-trip preserved values. PERMISSIVE
    corrupt-record capture is exercised in tests/test_relational.py
    (a deterministic entry cannot carry malformed lines)."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from .sources.io import read_json, write_json

    # ONE reusable export dir per (process, sf): bench repeats and
    # verify re-runs overwrite it in place instead of leaking a fresh
    # full-table JSON copy per invocation; a single atexit per dir
    # pid-scoped: reused across calls WITHIN a process (no per-call
    # leak) but never shared across concurrent processes (a writer's
    # overwrite must not race another process's read)
    tmp = os.path.join(
        tempfile.gettempdir(),
        f"s8_json_{os.getpid()}_{hashlib.md5(sf.encode()).hexdigest()[:12]}",
    )
    if tmp not in _S8_DIRS:
        _S8_DIRS.add(tmp)
        atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    e = read_table(spark, sf, "events").select("event_id", "event_type", "value")
    write_json(e, tmp)  # mode=overwrite: idempotent re-export
    back = read_json(
        spark, tmp, schema="event_id long, event_type string, value double"
    )
    return (
        back.filter(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
        )
    )


def _pagerank_oracle(n_iter: int = 10, d: float = 0.85, ndigits: int = 8) -> str:
    """Unrolled power-iteration PageRank as chained CTEs — DuckDB
    recomputes every iteration the Spark loop runs, including the
    dangling-mass redistribution (generated, not hand-written, so the
    iteration count stays a single source of truth with q_g1)."""
    parts = [
        """
    edges AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                      's' || CAST(l.l_suppkey AS VARCHAR) AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    nodes AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS MATERIALIZED (SELECT src, CAST(count(*) AS DOUBLE) AS deg
               FROM edges GROUP BY src),
    r0 AS MATERIALIZED (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes)"""
    ]
    for i in range(1, n_iter + 1):
        parts.append(f"""
    d{i} AS MATERIALIZED (
      SELECT coalesce(sum(r), 0) AS dm FROM r{i - 1} p
      WHERE NOT EXISTS (SELECT 1 FROM outdeg o WHERE o.src = p.node)
    ),
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, sum(p.r / o.deg) AS contrib
      FROM edges e
      JOIN r{i - 1} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
      GROUP BY e.dst
    ),
    r{i} AS MATERIALIZED (
      SELECT n.node,
             {1.0 - d} / (SELECT n FROM nn)
             + {d} * coalesce(c.contrib, 0)
             + {d} * (SELECT dm FROM d{i}) / (SELECT n FROM nn) AS r
      FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
    )""")
    return (
        "WITH" + ",".join(parts)
        + f"\n    SELECT node, round(r, {ndigits}) AS rank FROM r{n_iter}"
    )


#: one constant drives BOTH the Spark loop and the unrolled oracle
_G1_ITERS = 5


@query("g1_pagerank", oracle=_pagerank_oracle(n_iter=_G1_ITERS))
def q_g1(spark, sf):
    """G1 — PageRank over the customer->supplier trade graph (distinct
    (o_custkey, l_suppkey) pairs; suppliers have no out-edges, so the
    dangling-mass redistribution is exercised on half the nodes every
    iteration) via operators.graph.pagerank: _G1_ITERS power iterations, each
    ONE edges-join-ranks + ONE partial-aggregated shuffle on the
    destination key; the rank vector is per-NODE (never re-shuffled
    with the edge list), lineage localCheckpoint-truncated. The oracle
    is the same iteration count UNROLLED as generated DuckDB CTEs —
    iteration count, damping, dangling handling, and rounding share one
    source of truth."""
    from .operators.graph import pagerank

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_custkey")
    l = read_table(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, n_iter=_G1_ITERS)


@query(
    "w14_ohlc_bars",
    oracle="""
    SELECT event_type,
           CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bar_sec,
           arg_min(value, (epoch_us(ts) - 1704067200000000) * 1000000
                          + event_id) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, (epoch_us(ts) - 1704067200000000) * 1000000
                          + event_id) AS close,
           CAST(count(value) AS BIGINT) AS n
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def q_w14(spark, sf):
    """W14 — 5-minute OHLC time bars per event type via
    operators.relational.ohlc_bars: window(ts) bucket assignment is
    map-side, then ONE partial-aggregated shuffle computes
    open/high/low/close/count — no window function, no sort. The
    operator orders open/close by struct(ts, event_id); DuckDB's
    arg_min/arg_max take only scalar keys, so the oracle uses the
    ORDER-EQUIVALENT scalar ``(relative_us * 1e6 + event_id)``
    (event_id < 1e6 at every harness sf, asserted in the entry).
    bar_sec is the epoch-second bucket start — identical integer
    arithmetic on both engines."""
    e = read_table(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    # the oracle's scalar tiebreak key (relative_us * 1e6 + event_id)
    # needs: 0 <= event_id < 1e6 AND ts within ~106 days of the
    # 2024-01-01 anchor — beyond that the BIGINT product overflows (or
    # goes negative) and the arg_min/arg_max ordering silently inverts.
    # Assert every assumption so a fixture change fails loudly here,
    # not as a confusing hash mismatch.
    anchor = "2024-01-01 00:00:00"
    bad = e.filter(
        (F.col("event_id") >= 1_000_000)
        | (F.col("event_id") < 0)
        | (F.col("ts") < F.to_timestamp(F.lit(anchor)))
        | (F.col("ts") >= F.to_timestamp(F.lit(anchor)) + F.expr("INTERVAL 106 DAYS"))
    ).limit(1).count()
    if bad:
        raise AssertionError(
            "w14 oracle key assumption violated: need 0 <= event_id < 1e6 "
            "and ts in [2024-01-01, 2024-01-01 + 106 days)"
        )
    bars = R.ohlc_bars(
        e, "ts", "value", keys=("event_type",), bar="5 minutes",
        tiebreak_col="event_id",
    )
    return bars.select(
        "event_type",
        F.unix_timestamp("bar_start").cast("long").alias("bar_sec"),
        "open", "high", "low", "close", "n",
    )


#: SnapshotTable roots already registered for exit cleanup
_SNAP_DIRS: set[str] = set()


def _table_root(entry: str, sf: str) -> str:
    """Reusable pid-scoped scratch root for a SnapshotTable entry: bench
    repeats and verify re-runs recreate the table in place (rmtree +
    create) rather than leaking a copy per invocation; one atexit per
    (process, entry, sf). Pid-scoped so concurrent processes never race
    each other's logs."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(),
        f"snap_{entry}_{os.getpid()}_{hashlib.md5(sf.encode()).hexdigest()[:12]}",
    )
    if root not in _SNAP_DIRS:
        _SNAP_DIRS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    shutil.rmtree(root, ignore_errors=True)
    return root


def _mk_bucketed_delta(
    spark, df, root: str, table_id: str, key: str = "c_custkey",
    n_buckets: int = 4, configuration: dict | None = None,
) -> list:
    """Shared row-level-DML fixture (s80/s81/s83/st30): land ``df`` as
    one parquet file per ``key % n_buckets`` bucket plus a
    hand-written v0 ``_delta_log`` — plain minReaderVersion-1 /
    minWriterVersion-2 protocol, so the DML op under test must
    perform any feature upgrade ITSELF. Returns the bucket rel
    paths."""
    import glob as _glob
    import json as _json
    import os
    import shutil as _shutil

    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    # ONE staged write for all buckets (each bucket lands in exactly
    # one task/file via repartition+partitionBy — the same batched
    # shape as export_hudi's COW publish), replacing a per-bucket
    # filter+write loop that scheduled O(n_buckets) sequential jobs
    stage = os.path.join(root, ".stage")
    (
        df.withColumn("__b", F.col(key) % n_buckets)
        .repartition(n_buckets, "__b")
        .write.partitionBy("__b")
        .parquet(stage)
    )
    rels = []
    empty_src = None
    for b in range(n_buckets):
        rel = f"bucket{b}.parquet"
        parts = _glob.glob(os.path.join(stage, f"__b={b}", "part-*.parquet"))
        if parts:
            (part,) = parts
            _shutil.move(part, os.path.join(root, rel))
        else:
            # a bucket with zero rows still lands a (0-row) file, as
            # the per-bucket loop did
            if empty_src is None:
                estage = os.path.join(root, ".stage-empty")
                df.limit(0).coalesce(1).write.parquet(estage)
                (empty_src,) = _glob.glob(
                    os.path.join(estage, "part-*.parquet")
                )
            _shutil.copy(empty_src, os.path.join(root, rel))
        rels.append(rel)
    if empty_src is not None:
        _shutil.rmtree(os.path.dirname(empty_src))
    _shutil.rmtree(stage)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 2}}) + "\n")
        f.write(_json.dumps({"metaData": {
            "id": table_id,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": df.schema.json(),
            "partitionColumns": [],
            "configuration": configuration or {},
        }}) + "\n")
        for rel in rels:
            f.write(_json.dumps({"add": {
                "path": rel, "partitionValues": {}, "size": 1,
                "modificationTime": 0, "dataChange": True}}) + "\n")
    return rels


@query(
    "s9_table_merge",
    oracle="""
    WITH upd AS (
      SELECT c_custkey, c_acctbal + 100.0 AS c_acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey + 10000000, 0.0 FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT COALESCE(c.c_custkey, u.c_custkey) AS c_custkey,
           c.c_name,
           COALESCE(u.c_acctbal, c.c_acctbal) AS c_acctbal
    FROM customer c FULL OUTER JOIN upd u USING (c_custkey)
    """,
)
def q_s9(spark, sf):
    """S9 — ACID MERGE INTO a SnapshotTable (sources/table.py): the same
    upsert delta as s6, but through the versioned commit log with
    bucketed COPY-ON-WRITE — only the buckets containing update keys are
    read, full-outer-merged, and rewritten; untouched buckets' parquet
    files stay live across the commit. The hash-match against the
    same FULL OUTER JOIN oracle proves the bucket-pruned rewrite loses
    and duplicates nothing. This is the parquet-era answer to the
    reference's mutable-store writes (nb:2101 ``to_sql(if_exists=
    'replace')``) that stays atomic for concurrent readers."""
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = SnapshotTable.create(
        spark,
        _table_root("s9", sf),
        "c_custkey bigint, c_name string, c_acctbal double",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    upd = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal"))
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    t.merge(upd, update_cols=["c_acctbal"])
    return t.read()


@query(
    "s10_table_time_travel",
    oracle="""
    WITH b1 AS (SELECT event_id, value FROM events WHERE event_id % 3 = 0),
         b2 AS (SELECT event_id, value FROM events WHERE event_id % 3 = 1),
         v2 AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2),
         v3 AS (SELECT * FROM v2 WHERE NOT COALESCE(event_id % 5 = 0, FALSE))
    SELECT CAST(0 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n, 0.0 AS total
    UNION ALL SELECT 1, count(*), COALESCE(round(sum(value), 4), 0.0) FROM b1
    UNION ALL SELECT 2, count(*), COALESCE(round(sum(value), 4), 0.0) FROM v2
    UNION ALL SELECT 3, count(*), COALESCE(round(sum(value), 4), 0.0) FROM v3
    """,
)
def q_s10(spark, sf):
    """S10 — snapshot-isolation TIME TRAVEL: two appends then a
    predicate DELETE commit, and every historical version read back by
    number (create=v0 ... delete=v3). DuckDB recomputes each version's
    row set from the source table; matching all four (count, sum)
    surfaces proves commits are immutable snapshots — the delete
    rewrote candidate files into v3 without disturbing what v1/v2 read.
    NULL predicate rows are KEPT by delete (coalesce(cond, false)), and
    the oracle encodes the same rule."""
    from .sources.table import SnapshotTable

    e = read_table(spark, sf, "events").select("event_id", "value")
    t = SnapshotTable.create(
        spark, _table_root("s10", sf), "event_id bigint, value double"
    )
    t.append(e.filter(F.col("event_id") % 3 == 0))
    t.append(e.filter(F.col("event_id") % 3 == 1))
    t.delete(F.col("event_id") % 5 == 0)
    per_version = [
        t.read(version=v)
        .agg(
            F.count("*").cast("long").alias("n"),
            F.coalesce(F.round(F.sum("value"), 4), F.lit(0.0)).alias("total"),
        )
        .select(F.lit(v).cast("long").alias("version"), "n", "total")
        for v in range(0, 4)
    ]
    out = per_version[0]
    for df in per_version[1:]:
        out = out.unionByName(df)
    return out


@query(
    "s11_table_skipping",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total,
           CAST(min(o_orderkey) AS BIGINT) AS k_min,
           CAST(max(o_orderkey) AS BIGINT) AS k_max,
           TRUE AS skipped_files
    FROM orders WHERE o_orderkey BETWEEN 1000 AND 2999
    """,
)
def q_s11(spark, sf):
    """S11 — file-level DATA SKIPPING: orders lands in the table
    range-clustered on o_orderkey (repartitionByRange -> tight per-file
    min/max footer stats harvested at commit time), then a narrow key
    range is read through ``prune`` — the planner consults the stored
    stats and hands Spark ONLY the files whose [min,max] intersect.
    ``skipped_files`` asserts strictly fewer files were scanned than are
    live (the scan-less majority is the whole point at 100 TB); the
    aggregate surface hash-matches DuckDB's full-scan answer, proving
    skipping dropped no qualifying rows."""
    from .sources.table import SnapshotTable

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_totalprice")
    t = SnapshotTable.create(
        spark,
        _table_root("s11", sf),
        "o_orderkey bigint, o_totalprice double",
        stats_cols=["o_orderkey"],
    )
    t.append(o.repartitionByRange(8, "o_orderkey"))
    prune = [("o_orderkey", 1000, 2999)]
    n_scanned = len(t.pruned_paths(prune))
    n_live = len(t.files())
    return t.read(prune=prune).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
        F.min("o_orderkey").cast("long").alias("k_min"),
        F.max("o_orderkey").cast("long").alias("k_max"),
        F.lit(bool(0 < n_scanned < n_live)).alias("skipped_files"),
    )


@query(
    "s12_table_zorder",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 4) AS total,
           TRUE AS skipped_custkey,
           TRUE AS skipped_price
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
      AND o_totalprice BETWEEN 50000 AND 150000
    """,
)
def q_s12(spark, sf):
    """S12 — OPTIMIZE ZORDER BY (o_custkey, o_totalprice) then a 2-D
    pruned read: the Morton-curve rewrite makes footer min/max stats
    selective on BOTH columns at once (a linear sort serves only its
    leading column), so a narrow range on EITHER dimension alone must
    already skip files — asserted by the two booleans — while the
    aggregate hash-matches DuckDB's full-scan answer over the same 2-D
    box. The rewrite is one bounds agg + one range shuffle, all JVM."""
    from .sources.table import SnapshotTable

    o = read_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s12", sf),
        "o_orderkey bigint, o_custkey bigint, o_totalprice double",
        stats_cols=["o_custkey", "o_totalprice"],
    )
    t.append(o.repartition(8))  # layout uncorrelated with either column
    t.optimize_zorder(["o_custkey", "o_totalprice"], n_files=16)
    n_live = len(t.files())
    pc = len(t.pruned_paths([("o_custkey", 100, 200)]))
    pp = len(t.pruned_paths([("o_totalprice", 50000.0, 150000.0)]))
    prune = [("o_custkey", 100, 200), ("o_totalprice", 50000.0, 150000.0)]
    return t.read(prune=prune).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
        F.lit(bool(0 < pc < n_live)).alias("skipped_custkey"),
        F.lit(bool(0 < pp < n_live)).alias("skipped_price"),
    )


@query(
    "s13_table_changes",
    oracle="""
    SELECT 'delete' AS _change_type, CAST(2 AS BIGINT) AS _commit_version,
           c_custkey, c_name, c_acctbal
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT 'insert', 2, c_custkey, c_name, c_acctbal + 100.0
    FROM customer WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT 'insert', 2, c_custkey + 10000000, NULL, 0.0
    FROM customer WHERE c_custkey % 97 = 0
    """,
)
def q_s13(spark, sf):
    """S13 — CHANGE DATA FEED off the SnapshotTable commit log
    (read_changes): after the s9-shaped MERGE, the feed for that commit
    must contain EXACTLY the true row changes — each updated key's
    delete pre-image and insert post-image plus the brand-new keys —
    and none of the rows the bucket rewrite copied unchanged (the
    exceptAll diff over just the commit's removed/added files cancels
    them). DuckDB recomputes the exact expected feed from the base
    table; any leaked unchanged row, lost change, or mis-versioned row
    breaks the hash. This is the incremental-consumer surface: syncing
    a downstream index reads delta-sized changes, never the table."""
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select("c_custkey", "c_name", "c_acctbal")
    t = SnapshotTable.create(
        spark,
        _table_root("s13", sf),
        "c_custkey bigint, c_name string, c_acctbal double",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    upd = (
        c.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 100.0).alias("c_acctbal"))
        .unionByName(
            c.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    t.merge(upd, update_cols=["c_acctbal"])
    return t.read_changes(1).select(
        "_change_type", "_commit_version", "c_custkey", "c_name", "c_acctbal"
    )


@query(
    "s14_incremental_view",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS total
    FROM events
    WHERE NOT COALESCE(event_id % 5 = 0, FALSE)
    GROUP BY event_type
    """,
)
def q_s14(spark, sf):
    """S14 — INCREMENTAL materialized-view maintenance over the CDC
    feed: the per-type (count, sum-of-cents) view is materialized once
    from snapshot v1, then a predicate DELETE commits v2 and
    operators.relational.apply_agg_changes folds ONLY read_changes(1,2)
    into the view — the base table is never rescanned. Integer-cents
    arithmetic makes the fold bit-exact, so the maintained view must
    hash-match DuckDB's direct aggregate of the post-delete table
    EXACTLY — one miscounted or double-counted change breaks it. The
    change-side shuffle is delta-sized; at 100 TB this is the difference
    between refreshing a dashboard in delta time vs table time."""
    from .operators.relational import apply_agg_changes
    from .sources.table import SnapshotTable

    e = read_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("value_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s14", sf),
        "event_id bigint, event_type string, value_c bigint",
    )
    t.append(e)                                   # v1
    t.delete(F.col("event_id") % 5 == 0)          # v2
    view0 = (
        t.read(version=1)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("value_c").alias("total"),
        )
    )
    maintained = apply_agg_changes(
        view0, t.read_changes(1, 2), keys=["event_type"], value_col="value_c"
    )
    return maintained.select(
        "event_type", "n", F.col("total").cast("long").alias("total")
    )


@query(
    "s15_delta_read",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)
                    + CASE WHEN c_mktsegment =
                               (SELECT min(c_mktsegment) FROM customer)
                           THEN 10000 ELSE 0 END) AS BIGINT) AS bal_c
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_s15(spark, sf):
    """S15 — Delta Lake ``_delta_log`` INTEROP read (sources/delta.py):
    a real lakehouse table is what a 100 TB user actually has, and this
    entry builds one the way an external writer would — per-partition
    parquet data files plus a hand-written JSON commit log (protocol /
    metaData / add actions at v0, then a MERGE-shaped remove+add file
    swap of the first segment's partition at v1) — and snapshot-reads it
    through the log replay. Only LIVE files are handed to Spark (the
    removed v0 file still exists on disk but must not be read), and the
    partition column comes from the log's authoritative partitionValues,
    not from path guessing. Integer-cents arithmetic keeps the aggregate
    bit-exact: DuckDB recomputes the post-swap table from the base
    customer rows, so a reader that replayed removes wrong, leaked a
    dead file, or mis-cast a partition value breaks the hash."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.delta import read_delta

    root = _table_root("s15", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )

    def put(df, rel):
        stage = os.path.join(root, rel + ".stage")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(root, rel))
        shutil.rmtree(stage)

    def add(rel, seg, mtime):
        return {
            "add": {
                "path": rel,
                "partitionValues": {"c_mktsegment": seg},
                "size": 1,
                "modificationTime": mtime,
                "dataChange": True,
            }
        }

    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)

    def commit(v, actions):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    adds0 = []
    for i, s in enumerate(segs):
        rel = f"seg{i}.parquet"
        put(c.filter(F.col("c_mktsegment") == s).select("c_custkey", "bal_c"), rel)
        adds0.append(add(rel, s, 0))
    commit(
        0,
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": "s15",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": c.schema.json(),
                    "partitionColumns": ["c_mktsegment"],
                    "configuration": {},
                }
            },
        ]
        + adds0,
    )
    target = segs[0]
    put(
        c.filter(F.col("c_mktsegment") == target).select(
            "c_custkey", (F.col("bal_c") + 10000).alias("bal_c")
        ),
        "seg_swap.parquet",
    )
    commit(
        1,
        [
            {"commitInfo": {"operation": "MERGE"}},
            {
                "remove": {
                    "path": "seg0.parquet",
                    "deletionTimestamp": 1,
                    "dataChange": True,
                }
            },
            add("seg_swap.parquet", target, 1),
        ],
    )
    return (
        read_delta(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


@query(
    "s16_delta_export",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 11 = 0 THEN 10000 ELSE 0 END AS bal_c
    FROM customer
    """,
)
def q_s16(spark, sf):
    """S16 — zero-copy Delta EXPORT round trip (sources/delta.py
    ``export_delta_log``): a bucketed SnapshotTable is published as a
    real ``_delta_log`` (version 0 = full live set), then a bucket-pruned
    MERGE rewrites a few buckets and the second export commits ONLY the
    add/remove diff (delta-sized metadata, like the native log). The
    returned frame reads through the EXPORTED log alone — what delta-rs
    or Trino would see — so a missed remove, a leaked dead file, or a
    wrong diff surfaces as a row-level hash mismatch against DuckDB's
    direct recompute. Integer-cents keeps it bit-exact."""
    from .sources.delta import export_delta_log, read_delta
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s16", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_delta_log(t) == 0
    upd = c.filter(F.col("c_custkey") % 11 == 0).select(
        "c_custkey", (F.col("bal_c") + 10000).alias("bal_c")
    )
    t.merge(upd)
    assert export_delta_log(t) == 1
    return read_delta(spark, t.root)


@query(
    "s18_iceberg_roundtrip",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 17 = 0 THEN 7000 ELSE 0 END AS bal_c
    FROM customer
    """,
)
def q_s18(spark, sf):
    """S18 — Apache ICEBERG interop round trip (sources/iceberg.py): the
    engine's SnapshotTable is published as a real Iceberg v2 table —
    metadata JSON + Avro manifest list + Avro manifest written by the
    stdlib codec in sources/avro_ocf.py, zero data movement — after an
    append and again after a bucket-pruned MERGE (two Iceberg
    snapshots), then snapshot-read back THROUGH the Iceberg metadata
    alone: manifest replay decides the live files, dead pre-merge
    parquet stays on disk but must not be read. Row-level integer-cents
    hash against DuckDB's direct recompute; with the Delta pair
    (s15/s16) the engine now interops with BOTH major lakehouse formats
    in BOTH directions."""
    from .sources.iceberg import export_iceberg, read_iceberg
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s18", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    upd = c.filter(F.col("c_custkey") % 17 == 0).select(
        "c_custkey", (F.col("bal_c") + 7000).alias("bal_c")
    )
    t.merge(upd)
    assert export_iceberg(t) == 2
    return read_iceberg(spark, t.root)


@query(
    "s26_iceberg_transform_prune",
    oracle="""
    WITH base AS (
      SELECT (year(o_orderdate) - 1970) AS yr,
             (o_custkey // 600) * 600 AS tr,
             o_orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    )
    SELECT CAST(yr AS BIGINT) AS yr, CAST(tr AS BIGINT) AS tr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS total_c,
           CAST(min(o_orderkey) AS BIGINT) AS min_ok,
           CAST(max(o_orderkey) AS BIGINT) AS max_ok
    FROM base
    WHERE yr IN (26, 29) AND tr IN (0, 1200)
    GROUP BY yr, tr
    """,
)
def q_s26(spark, sf):
    """S26 — Iceberg PARTITION-TRANSFORM pruning (sources/iceberg.py
    `transform_value` + the source-column path of `read_iceberg`'s
    ``partitions=``): the fixture lays orders down the way a conforming
    writer with spec ``[year(o_orderdate), truncate[600](o_custkey)]``
    would — one data file per transformed tuple, manifests storing the
    TRANSFORMED partition values (year ordinal since 1970, floored
    custkey), spec JSON carrying transform + source-id. The read prunes
    with SOURCE values (``{"o_orderdate": [two dates], "o_custkey":
    [two keys]}``): the reader must apply the spec transforms and admit
    exactly the 2x2 tuple cross product — a wrongly-admitted or
    wrongly-dropped FILE shifts whole groups and breaks the hash. The
    oracle recomputes the admitted row set from base parquet with the
    same transform arithmetic in SQL. Pruning is metadata-only
    (driver-side file-list cut before any Spark task); the bucket[N]
    murmur3 twin is pinned end-to-end in tests/test_iceberg_interop.py
    (its hash is not SQL-recomputable)."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .sources.avro_ocf import write_avro
    from .sources.iceberg import (
        MANIFEST_FILE_SCHEMA,
        read_iceberg,
    )

    root = _table_root("s26", sf)
    ddir = os.path.join(root, "data")
    mdir = os.path.join(root, "metadata")
    os.makedirs(ddir)
    os.makedirs(mdir)
    tbl = pq.read_table(
        os.path.join(sf, "orders.parquet"),
        columns=["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"],
    )
    pdf = tbl.to_pandas()
    pdf["o_orderdate"] = pdf["o_orderdate"].dt.date
    yr = pdf["o_orderdate"].map(lambda d: d.year - 1970)
    tr = (pdf["o_custkey"] // 600) * 600
    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {"name": "od_year", "type": "long"},
                                    {"name": "ck_trunc", "type": "long"},
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }
    entries = []
    arrow_schema = pa.schema(
        [
            ("o_orderkey", pa.int64()),
            ("o_custkey", pa.int64()),
            ("o_totalprice", pa.float64()),
            ("o_orderdate", pa.date32()),
        ]
    )
    for (y, t), g in pdf.groupby([yr, tr], sort=True):
        p = os.path.join(ddir, f"f-{y}-{t}.parquet")
        pq.write_table(
            pa.Table.from_pandas(g, schema=arrow_schema, preserve_index=False), p
        )
        entries.append(
            {
                "status": 1,
                "snapshot_id": 1,
                "data_file": {
                    "content": 0,
                    "file_path": p,
                    "file_format": "PARQUET",
                    "partition": {"od_year": int(y), "ck_trunc": int(t)},
                    "record_count": len(g),
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
        )
    manifest = os.path.join(mdir, "manifest-1.avro")
    write_avro(manifest, entry_schema, entries)
    mlist = os.path.join(mdir, "snap-1.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": 1,
                "sequence_number": 1,
            }
        ],
    )
    meta = {
        "format-version": 2,
        "table-uuid": "s26-fixture",
        "location": root,
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 0,
                "summary": {"operation": "append"},
                "manifest-list": mlist,
                "schema-id": 0,
            }
        ],
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "o_orderkey", "required": False, "type": "long"},
                    {"id": 2, "name": "o_custkey", "required": False, "type": "long"},
                    {
                        "id": 3,
                        "name": "o_totalprice",
                        "required": False,
                        "type": "double",
                    },
                    {"id": 4, "name": "o_orderdate", "required": False, "type": "date"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": "od_year",
                        "transform": "year",
                        "source-id": 4,
                        "field-id": 1000,
                    },
                    {
                        "name": "ck_trunc",
                        "transform": "truncate[600]",
                        "source-id": 2,
                        "field-id": 1001,
                    },
                ],
            }
        ],
        "default-spec-id": 0,
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")
    df = read_iceberg(
        spark,
        root,
        partitions={
            "o_orderdate": ["1996-06-01", "1999-03-15"],
            "o_custkey": [17, 1234],
        },
    )
    return (
        df.select(
            (F.year("o_orderdate") - 1970).cast("long").alias("yr"),
            (F.floor(F.col("o_custkey") / 600) * 600).cast("long").alias("tr"),
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("yr", "tr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("total_c"),
            F.min("o_orderkey").cast("long").alias("min_ok"),
            F.max("o_orderkey").cast("long").alias("max_ok"),
        )
    )


@query(
    "s17_pyds_snapshot_read",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
           + CASE WHEN c_custkey % 13 = 0 THEN 5000 ELSE 0 END AS bal_c
    FROM customer
    """,
)
def q_s17(spark, sf):
    """S17 — SnapshotTable through Spark's PYTHON DATA SOURCE API
    (sources/pydatasource.py): ``spark.read.format("snapshot")`` plans
    one input partition per live file — the executor-parallel scan shape
    — with pyarrow batch reads on the workers and only the commit log
    touched on the driver. The row-level hash against DuckDB's direct
    recompute proves the post-MERGE live-file set (not the dead
    pre-merge files still on disk) is what the source hands Spark. The
    native JVM scan (`SnapshotTable.read`) stays the fast path; this is
    the standard-surface interop (SQL users, readStream) route."""
    from .sources.pydatasource import register_datasources
    from .sources.table import SnapshotTable

    register_datasources(spark)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s17", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    upd = c.filter(F.col("c_custkey") % 13 == 0).select(
        "c_custkey", (F.col("bal_c") + 5000).alias("bal_c")
    )
    t.merge(upd)
    return spark.read.format("snapshot").option("path", t.root).load()


@query(
    "s19_hudi_read",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)
                    + CASE WHEN c_mktsegment =
                               (SELECT min(c_mktsegment) FROM customer)
                           THEN 10000 ELSE 0 END) AS BIGINT) AS bal_c
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_s19(spark, sf):
    """S19 — Apache HUDI copy-on-write INTEROP read (sources/hudi.py):
    the table is built the way a Hudi writer lays it down — per-segment
    partition dirs, base files named ``<fileId>_<writeToken>_<instant>
    .parquet`` carrying the five ``_hoodie_*`` meta columns, and a
    ``.hoodie`` timeline — then snapshot-read through the timeline
    alone. Commit 1 writes every segment's file group; commit 2
    REWRITES the first segment's group (+10000 cents — a new file
    VERSION in the same group, the old version staying on disk for
    older readers); instant 3 is a staged rewrite of the second
    segment's group left ``.inflight`` — a concurrent writer whose file
    must stay invisible (Hudi's snapshot isolation). DuckDB recomputes
    the post-commit-2 table from the base customer rows, so a reader
    that picked the wrong file-slice version, leaked the inflight file,
    or missed the rewrite breaks the hash. In-entry asserts pin the
    timeline surface and ``as_of`` time travel to commit 1."""
    import glob
    import os
    import shutil

    from .sources.hudi import hudi_commits, read_hudi

    root = _table_root("s19", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    n_rows = c.count()
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )

    def put(df, part, file_id, instant, seqno):
        """One Hudi base file: data + the five _hoodie_* meta columns,
        named <fileId>_<writeToken>_<instant>.parquet in the partition
        dir (write-to-stage then move, like a Hudi marker-file commit)."""
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        meta = df.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(instant), F.lit(seqno)).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(f"{file_id}_1-0-1_{instant}.parquet").alias(
                "_hoodie_file_name"
            ),
            "c_custkey",
            "bal_c",
            "c_mktsegment",
        )
        stage = os.path.join(root, f".stage_{file_id}_{instant}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, f"{file_id}_1-0-1_{instant}.parquet"))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=s19\nhoodie.table.type=COPY_ON_WRITE\n")

    def commit(instant, state="commit"):
        open(os.path.join(hdir, f"{instant}.{state}"), "w").close()

    t1, t2, t3 = "00000000000001", "00000000000002", "00000000000003"
    for i, s in enumerate(segs):
        put(c.filter(F.col("c_mktsegment") == s), s, f"fg{i}", t1, str(i))
    commit(t1)
    put(
        c.filter(F.col("c_mktsegment") == segs[0]).withColumn(
            "bal_c", F.col("bal_c") + 10000
        ),
        segs[0], "fg0", t2, "0",
    )
    commit(t2)
    # concurrent writer: staged rewrite of segment 1's group, NOT committed
    put(
        c.filter(F.col("c_mktsegment") == segs[1]).withColumn(
            "bal_c", F.col("bal_c") + 999999
        ),
        segs[1], "fg1", t3, "0",
    )
    commit(t3, state="commit.inflight")
    assert hudi_commits(root) == [t1, t2]
    # time travel: at commit 1 every row exists at its ORIGINAL balance
    assert read_hudi(spark, root, as_of=t1).count() == n_rows
    return (
        read_hudi(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


@query(
    "s27_hudi_mor_read",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment,
             CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_mktsegment = (SELECT min(c_mktsegment) FROM customer)
                     AND c_custkey % 19 = 0 THEN 5000 ELSE 0 END AS bal
      FROM customer
    ), ins AS (
      SELECT (SELECT min(c_mktsegment) FROM customer) AS c_mktsegment,
             CAST(123 AS BIGINT) AS bal
      FROM customer WHERE c_custkey % 41 = 0
    ), u AS (
      SELECT c_mktsegment, bal FROM m
      UNION ALL SELECT c_mktsegment, bal FROM ins
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bal) AS BIGINT) AS bal_c
    FROM u GROUP BY c_mktsegment
    """,
)
def q_s27(spark, sf):
    """S27 — Apache HUDI MERGE_ON_READ interop read (sources/hudi.py
    `_read_mor` over the from-spec log-block codec in
    sources/hudi_log.py): the table is laid down the way a MOR writer
    would — deltacommit 1 writes per-segment base file groups (s19's
    layout), deltacommit 2 APPENDS a log file to the first segment's
    group with an AVRO upsert block (+5000 cents on every
    ``c_custkey % 19 = 0`` key of that segment), deltacommit 3 appends
    a second block INSERTING brand-new keys (``+2_000_000``, 123
    cents), and a 4th block sits under an INFLIGHT deltacommit
    (+999999) that must stay invisible. The snapshot read must merge
    base + committed blocks last-writer-wins per record key — a reader
    that missed the upsert, dropped the log-side inserts, double-
    counted a superseded base row, or leaked the pending block breaks
    the segment-level hash DuckDB recomputes from base customer rows.
    Upsert record building collects only the touched minority
    (|customer|/19 + |customer|/41 rows) to feed the fixture writer;
    the READ path decodes blocks on executors after a driver header
    scan."""
    from .sources.hudi import read_hudi

    root = _mor_customer_fixture(spark, sf, "s27")
    return (
        read_hudi(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


def _mor_customer_fixture(spark, sf, entry: str) -> str:
    """The writer-shaped MOR table s27/s31 share: deltacommit 1 writes
    per-segment base file groups; deltacommit 2 appends an AVRO upsert
    block (+5000 cents on seg-0's ``% 19 = 0`` keys); deltacommit 3
    appends an INSERT block (``+2_000_000`` keys at 123 cents);
    deltacommit 4 is INFLIGHT (+999999, must stay invisible). Returns
    the table root."""
    import glob
    import os
    import shutil

    from .sources import hudi_log as HL

    root = _table_root(entry, sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )

    def put(df, part, file_id, instant):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        meta = df.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(instant), F.lit("0")).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(f"{file_id}_1-0-1_{instant}.parquet").alias(
                "_hoodie_file_name"
            ),
            "c_custkey",
            "bal_c",
            "c_mktsegment",
        )
        stage = os.path.join(root, f".stage_{file_id}_{instant}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, f"{file_id}_1-0-1_{instant}.parquet"))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write(f"hoodie.table.name={entry}\nhoodie.table.type=MERGE_ON_READ\n")

    def commit(instant, state="deltacommit"):
        open(os.path.join(hdir, f"{instant}.{state}"), "w").close()

    avro_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": n, "type": ["null", t]}
            for n, t in (
                ("_hoodie_commit_time", "string"),
                ("_hoodie_commit_seqno", "string"),
                ("_hoodie_record_key", "string"),
                ("_hoodie_partition_path", "string"),
                ("_hoodie_file_name", "string"),
                ("c_custkey", "long"),
                ("bal_c", "long"),
                ("c_mktsegment", "string"),
            )
        ],
    }

    def rec(instant, part, ck, bal):
        return {
            "_hoodie_commit_time": instant,
            "_hoodie_commit_seqno": f"{instant}_0",
            "_hoodie_record_key": str(ck),
            "_hoodie_partition_path": part,
            "_hoodie_file_name": "log",
            "c_custkey": int(ck),
            "bal_c": int(bal),
            "c_mktsegment": part,
        }

    t1, t2, t3, t4 = (
        "00000000000001",
        "00000000000002",
        "00000000000003",
        "00000000000004",
    )
    for i, s in enumerate(segs):
        put(c.filter(F.col("c_mktsegment") == s), s, f"fg{i}", t1)
    commit(t1)
    lp = os.path.join(root, segs[0], HL.log_file_name("fg0", t1, 1))
    upd = (
        c.filter(
            (F.col("c_mktsegment") == segs[0]) & (F.col("c_custkey") % 19 == 0)
        )
        .select("c_custkey", (F.col("bal_c") + 5000).alias("bal_c"))
        .collect()
    )
    HL.append_avro_block(
        lp, t2, avro_schema, [rec(t2, segs[0], r["c_custkey"], r["bal_c"]) for r in upd]
    )
    commit(t2)
    ins = (
        c.filter(F.col("c_custkey") % 41 == 0)
        .select((F.col("c_custkey") + 2_000_000).alias("c_custkey"))
        .collect()
    )
    HL.append_avro_block(
        lp, t3, avro_schema, [rec(t3, segs[0], r["c_custkey"], 123) for r in ins]
    )
    commit(t3)
    # concurrent writer: block appended, deltacommit only INFLIGHT
    HL.append_avro_block(
        lp, t4, avro_schema, [rec(t4, segs[0], 0, 999999)]
    )
    commit(t4, state="deltacommit.inflight")
    return root


@query(
    "s31_hudi_mor_incremental",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment, c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), s0 AS (SELECT min(c_mktsegment) AS s FROM m),
    upd AS (
      SELECT c_mktsegment, bal + 5000 AS bal FROM m
      WHERE c_mktsegment = (SELECT s FROM s0) AND c_custkey % 19 = 0
    ), ins AS (
      SELECT (SELECT s FROM s0) AS c_mktsegment, CAST(123 AS BIGINT) AS bal
      FROM m WHERE c_custkey % 41 = 0
    ), u AS (
      SELECT * FROM upd UNION ALL SELECT * FROM ins
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bal) AS BIGINT) AS bal_c
    FROM u GROUP BY c_mktsegment
    """,
)
def q_s31(spark, sf):
    """S31 — Hudi MERGE_ON_READ INCREMENTAL query (sources/hudi.py
    `read_hudi_incremental` over `_read_mor(newer_than=)`): the
    change-feed consumption shape on a log-structured table. Over the
    s27 fixture (base groups at deltacommit 1, upsert block at 2,
    insert block at 3, an INFLIGHT block at 4), the window
    ``(1, latest]`` must return exactly the NET rows the log wrote —
    the ``% 19`` upserts at their final +5000 values and the log-side
    inserts — while untouched file groups (every other segment) are
    pruned at the file-group level and never opened. A reader that
    leaked carried-forward base rows, missed log inserts, emitted a
    pending block, or re-emitted superseded row versions breaks the
    hash DuckDB recomputes from base customer rows. In-entry assert
    pins the pruning: only seg-0's base file appears in the plan."""
    from .sources.hudi import read_hudi_incremental

    root = _mor_customer_fixture(spark, sf, "s31")
    inc = read_hudi_incremental(spark, root, begin="00000000000001")
    # file-group pruning: only the touched (first) segment's base file
    assert all("fg0" in f for f in inc.inputFiles()), inc.inputFiles()
    return inc.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bal_c").cast("long").alias("bal_c"),
    )


@query(
    "s29_hudi_mor_delete",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment, c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), seg0 AS (SELECT min(c_mktsegment) AS s FROM customer),
    kept AS (
      SELECT c_mktsegment, bal FROM m
      WHERE NOT (c_mktsegment = (SELECT s FROM seg0)
                 AND c_custkey % 23 = 0)
    ), re AS (
      SELECT c_mktsegment, CAST(777 AS BIGINT) AS bal FROM m
      WHERE c_mktsegment = (SELECT s FROM seg0) AND c_custkey % 46 = 0
    ), u AS (
      SELECT * FROM kept UNION ALL SELECT * FROM re
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bal) AS BIGINT) AS bal_c
    FROM u GROUP BY c_mktsegment
    """,
)
def q_s29(spark, sf):
    """S29 — Hudi MERGE_ON_READ DELETE-block read (sources/hudi.py
    `_read_mor` tombstone fold + sources/hudi_log.py delete codec): the
    normal MOR upsert-with-delete write path. deltacommit 1 writes
    per-segment base groups (s27's layout); deltacommit 2 appends a
    DELETE block to the first segment's log — an Avro
    ``HoodieDeleteRecordList`` of every ``c_custkey % 23 = 0`` key of
    that segment; deltacommit 3 RE-INSERTS the ``% 46 = 0`` half of the
    deleted keys at 777 cents (delete-then-reinsert: the newer writer
    must win); a 4th DELETE block sits under an INFLIGHT deltacommit
    (pending delete invisibility). The tombstones ride the same
    last-writer-wins merge window as upserts — a reader that dropped
    deletes, resurrected the reinserted keys' tombstones, applied the
    pending delete, or leaked a tombstone row into the output breaks
    the segment-level hash DuckDB recomputes from base customer rows."""
    import os

    from .sources import hudi_log as HL
    from .sources.hudi import read_hudi

    root = _table_root("s29", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )
    import glob
    import shutil

    def put(df, part, file_id, instant):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        meta = df.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(instant), F.lit("0")).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(f"{file_id}_1-0-1_{instant}.parquet").alias(
                "_hoodie_file_name"
            ),
            "c_custkey",
            "bal_c",
            "c_mktsegment",
        )
        stage = os.path.join(root, f".stage_{file_id}_{instant}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, f"{file_id}_1-0-1_{instant}.parquet"))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=s29\nhoodie.table.type=MERGE_ON_READ\n")

    def commit(instant, state="deltacommit"):
        open(os.path.join(hdir, f"{instant}.{state}"), "w").close()

    avro_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": n, "type": ["null", t]}
            for n, t in (
                ("_hoodie_commit_time", "string"),
                ("_hoodie_commit_seqno", "string"),
                ("_hoodie_record_key", "string"),
                ("_hoodie_partition_path", "string"),
                ("_hoodie_file_name", "string"),
                ("c_custkey", "long"),
                ("bal_c", "long"),
                ("c_mktsegment", "string"),
            )
        ],
    }
    t1, t2, t3, t4 = (
        "00000000000001",
        "00000000000002",
        "00000000000003",
        "00000000000004",
    )
    for i, s in enumerate(segs):
        put(c.filter(F.col("c_mktsegment") == s), s, f"fg{i}", t1)
    commit(t1)
    # the touched minority only reaches the driver (fixture writer)
    doomed = sorted(
        r["c_custkey"]
        for r in c.filter(
            (F.col("c_mktsegment") == segs[0]) & (F.col("c_custkey") % 23 == 0)
        ).collect()
    )
    lp = os.path.join(root, segs[0], HL.log_file_name("fg0", t1, 1))
    HL.append_delete_block(
        lp,
        t2,
        [{"recordKey": str(k), "partitionPath": segs[0]} for k in doomed],
    )
    commit(t2)
    HL.append_avro_block(
        lp,
        t3,
        avro_schema,
        [
            {
                "_hoodie_commit_time": t3,
                "_hoodie_commit_seqno": f"{t3}_0",
                "_hoodie_record_key": str(k),
                "_hoodie_partition_path": segs[0],
                "_hoodie_file_name": "log",
                "c_custkey": int(k),
                "bal_c": 777,
                "c_mktsegment": segs[0],
            }
            for k in doomed
            if k % 46 == 0
        ],
    )
    commit(t3)
    # concurrent deleting writer: block appended, deltacommit INFLIGHT
    HL.append_delete_block(
        lp, t4, [{"recordKey": str(doomed[0]), "partitionPath": segs[0]}]
    )
    commit(t4, state="deltacommit.inflight")
    return (
        read_hudi(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


@query(
    "s34_hudi_event_time_merge",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment, c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), s0 AS (SELECT min(c_mktsegment) AS s FROM customer),
    fin AS (
      SELECT c_mktsegment,
             CASE WHEN c_mktsegment = (SELECT s FROM s0)
                   AND c_custkey % 7 = 0
                  THEN bal + 1000 ELSE bal END AS bal
      FROM m
      WHERE NOT (c_mktsegment = (SELECT s FROM s0)
                 AND c_custkey % 7 <> 0 AND c_custkey % 13 = 0)
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bal) AS BIGINT) AS bal_c
    FROM fin GROUP BY c_mktsegment
    """,
)
def q_s34(spark, sf):
    """S34 — Hudi EVENT-TIME merge ordering (sources/hudi.py
    `_merge_ordering` + the precombine-led merge window in `_read_mor`):
    the ``DefaultHoodieRecordPayload`` / ``EVENT_TIME_ORDERING``
    semantics real upsert pipelines declare so late-arriving STALE
    events never clobber newer state. The table declares
    ``hoodie.table.precombine.field=ev_ts``; base groups at
    deltacommit 1 carry ev_ts=100. Deltacommit 2's log block upserts
    seg-0's ``% 7 = 0`` keys at ev_ts=200/+1000 cents (newer event:
    wins) AND its ``% 11 = 0`` non-%7 keys at ev_ts=50 with a poison
    +500000 value (stale event that arrived LATER in commit order: a
    positional merge would apply it; the event-time merge must not).
    Deltacommit 3 DELETE-blocks the ``% 13 = 0`` keys at
    orderingVal=150 — the tombstone beats ev_ts=100 base rows but
    LOSES to the ``% 7`` keys' ev_ts=200 upserts, so %7∩%13 keys
    survive at their upserted value. DuckDB recomputes the surviving
    per-segment sums from base customer rows; an applied stale upsert,
    a dropped delete, or a delete that over-killed the newer rows all
    break the hash."""
    import os

    from .sources import hudi_log as HL
    from .sources.hudi import read_hudi

    root = _table_root("s34", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )
    import glob
    import shutil

    def put(df, part, file_id, instant):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        meta = df.select(
            F.lit(instant).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(instant), F.lit("0")).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(f"{file_id}_1-0-1_{instant}.parquet").alias(
                "_hoodie_file_name"
            ),
            "c_custkey",
            "bal_c",
            F.lit(100).cast("long").alias("ev_ts"),
            "c_mktsegment",
        )
        stage = os.path.join(root, f".stage_{file_id}_{instant}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, f"{file_id}_1-0-1_{instant}.parquet"))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write(
            "hoodie.table.name=s34\nhoodie.table.type=MERGE_ON_READ\n"
            "hoodie.table.precombine.field=ev_ts\n"
            "hoodie.table.payload.class="
            "org.apache.hudi.common.model.DefaultHoodieRecordPayload\n"
        )

    def commit(instant, state="deltacommit"):
        open(os.path.join(hdir, f"{instant}.{state}"), "w").close()

    avro_schema = {
        "type": "record",
        "name": "rec",
        "fields": [
            {"name": n, "type": ["null", t]}
            for n, t in (
                ("_hoodie_commit_time", "string"),
                ("_hoodie_commit_seqno", "string"),
                ("_hoodie_record_key", "string"),
                ("_hoodie_partition_path", "string"),
                ("_hoodie_file_name", "string"),
                ("c_custkey", "long"),
                ("bal_c", "long"),
                ("ev_ts", "long"),
                ("c_mktsegment", "string"),
            )
        ],
    }

    def rec(instant, part, ck, bal, ev):
        return {
            "_hoodie_commit_time": instant,
            "_hoodie_commit_seqno": f"{instant}_0",
            "_hoodie_record_key": str(ck),
            "_hoodie_partition_path": part,
            "_hoodie_file_name": "log",
            "c_custkey": int(ck),
            "bal_c": int(bal),
            "ev_ts": int(ev),
            "c_mktsegment": part,
        }

    t1, t2, t3 = "00000000000001", "00000000000002", "00000000000003"
    for i, s in enumerate(segs):
        put(c.filter(F.col("c_mktsegment") == s), s, f"fg{i}", t1)
    commit(t1)
    seg0 = c.filter(F.col("c_mktsegment") == segs[0])
    fresh = (
        seg0.filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", (F.col("bal_c") + 1000).alias("bal_c"))
        .collect()
    )
    stale = (
        seg0.filter(
            (F.col("c_custkey") % 11 == 0) & (F.col("c_custkey") % 7 != 0)
        )
        .select("c_custkey")
        .collect()
    )
    lp = os.path.join(root, segs[0], HL.log_file_name("fg0", t1, 1))
    HL.append_avro_block(
        lp,
        t2,
        avro_schema,
        [rec(t2, segs[0], r["c_custkey"], r["bal_c"], 200) for r in fresh]
        + [rec(t2, segs[0], r["c_custkey"], 500000, 50) for r in stale],
    )
    commit(t2)
    doomed = sorted(
        r["c_custkey"]
        for r in seg0.filter(F.col("c_custkey") % 13 == 0).collect()
    )
    HL.append_delete_block(
        lp,
        t3,
        [
            {"recordKey": str(k), "partitionPath": segs[0], "orderingVal": 150}
            for k in doomed
        ],
    )
    commit(t3)
    return (
        read_hudi(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


@query(
    "s30_iceberg_files_meta",
    oracle="""
    WITH m AS (
      SELECT c_mktsegment AS seg, c_custkey FROM customer
    ), s0 AS (SELECT min(seg) AS s FROM m),
    f AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS rc FROM m GROUP BY seg
      UNION ALL
      SELECT (SELECT s FROM s0) AS seg, CAST(count(*) AS BIGINT) AS rc
      FROM m WHERE seg = (SELECT s FROM s0) AND c_custkey % 41 = 0
    )
    SELECT seg, CAST(count(*) AS BIGINT) AS files,
           CAST(sum(rc) AS BIGINT) AS recs
    FROM f GROUP BY seg
    """,
)
def q_s30(spark, sf):
    """S30 — Iceberg INSPECTION metadata tables (sources/iceberg.py
    `iceberg_meta_table`): the ``SELECT * FROM t.files`` surface. The
    fixture lays down a real two-snapshot Iceberg v2 table — snapshot 1
    writes one identity-partitioned data file per segment (record_count
    taken from the actual parquet FOOTERS, not recomputed), snapshot 2
    appends a second seg-0 file with the ``% 41 = 0`` keys — and the
    query aggregates the CURRENT snapshot's ``files`` view per
    partition: file count + summed record_count, which DuckDB
    recomputes from base customer rows. In-entry asserts pin the
    snapshot-1 view (one file per segment), ``history``'s is_current
    flag, an empty ``delete_files`` view, the ``manifests`` projection,
    and the data round trip through read_iceberg."""
    import json as _json
    import os

    import pyarrow.parquet as pq

    from .sources.avro_ocf import write_avro
    from .sources.iceberg import (
        MANIFEST_FILE_SCHEMA,
        iceberg_meta_table,
        read_iceberg,
    )

    root = _table_root("s30", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        F.col("c_mktsegment").alias("seg"),
    )
    segs = sorted(r["seg"] for r in c.select("seg").distinct().collect())
    import glob
    import shutil

    def put(df, rel):
        stage = os.path.join(root, ".stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        shutil.rmtree(stage)
        return dst

    entry_schema = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": [
                                    {"name": "seg", "type": ["null", "string"]}
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    }

    def entry(path, seg, sid):
        return {
            "status": 1,
            "snapshot_id": sid,
            "data_file": {
                "content": 0,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {"seg": seg},
                # record_count flows from the FILE, not a recompute
                "record_count": pq.ParquetFile(path).metadata.num_rows,
                "file_size_in_bytes": os.path.getsize(path),
            },
        }

    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir, exist_ok=True)
    e1 = [
        entry(
            put(c.filter(F.col("seg") == s), f"data/seg={s}/f1.parquet"),
            s,
            1,
        )
        for s in segs
    ]
    m1 = os.path.join(mdir, "m1.avro")
    write_avro(m1, entry_schema, e1)

    def mf(mp, sid):
        return {
            "manifest_path": mp,
            "manifest_length": os.path.getsize(mp),
            "partition_spec_id": 0,
            "content": 0,
            "added_snapshot_id": sid,
            "sequence_number": sid,
        }

    ml1 = os.path.join(mdir, "ml1.avro")
    write_avro(ml1, MANIFEST_FILE_SCHEMA, [mf(m1, 1)])
    e2 = [
        entry(
            put(
                c.filter(
                    (F.col("seg") == segs[0]) & (F.col("c_custkey") % 41 == 0)
                ),
                f"data/seg={segs[0]}/f2.parquet",
            ),
            segs[0],
            2,
        )
    ]
    m2 = os.path.join(mdir, "m2.avro")
    write_avro(m2, entry_schema, e2)
    ml2 = os.path.join(mdir, "ml2.avro")
    write_avro(ml2, MANIFEST_FILE_SCHEMA, [mf(m1, 1), mf(m2, 2)])
    meta = {
        "format-version": 2,
        "table-uuid": "s30",
        "location": root,
        "last-sequence-number": 2,
        "last-column-id": 3,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "c_custkey", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "bal_c", "required": False,
                     "type": "long"},
                    {"id": 3, "name": "seg", "required": False,
                     "type": "string"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {"name": "seg", "transform": "identity",
                     "source-id": 3, "field-id": 1000}
                ],
            }
        ],
        "default-spec-id": 0,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1000,
             "summary": {"operation": "append"}, "manifest-list": ml1},
            {"snapshot-id": 2, "timestamp-ms": 2000,
             "summary": {"operation": "append"}, "manifest-list": ml2},
        ],
        "current-snapshot-id": 2,
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")
    # inspection surfaces beyond the hashed query
    assert iceberg_meta_table(spark, root, "files", snapshot_id=1).count() \
        == len(segs)
    assert iceberg_meta_table(spark, root, "delete_files").count() == 0
    assert iceberg_meta_table(spark, root, "manifests").count() == 2
    hist = {
        r["snapshot_id"]: r["is_current"]
        for r in iceberg_meta_table(spark, root, "history").collect()
    }
    assert hist == {1: False, 2: True}
    # data round trip still reads (partition pruning included)
    assert read_iceberg(
        spark, root, partitions={"seg": segs[-1]}
    ).count() > 0
    return (
        iceberg_meta_table(spark, root, "files")
        .groupBy(F.element_at("partition", F.lit("seg")).alias("seg"))
        .agg(
            F.count("*").cast("long").alias("files"),
            F.sum("record_count").cast("long").alias("recs"),
        )
    )


@query(
    "s32_delta_stats_skip",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE year(o_orderdate) >= 1996
    GROUP BY year(o_orderdate)
    """,
)
def q_s32(spark, sf):
    """S32 — Delta DATA SKIPPING via add-action stats
    (sources/delta.py `_stats_skip` behind ``read_delta(predicates=)``):
    the minValues/maxValues bounds every real Delta writer records. The
    fixture lays orders down as one file per order YEAR, each add
    action carrying the year's exact stats JSON; the read with
    ``yr >= 1996`` must prune every earlier file at the METADATA level
    — the in-entry assert pins the plan to exactly the admitted files
    (at 100 TB this is the scan-one-year-not-the-table lever). DuckDB
    recomputes the admitted years' aggregate from base orders rows; a
    reader that over-pruned loses rows, one that under-pruned still
    hashes right but fails the inputFiles assert."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.delta import read_delta

    root = _table_root("s32", sf)
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").cast("long").alias("yr"),
    )
    years = sorted(r["yr"] for r in o.select("yr").distinct().collect())

    def put(df, rel):
        stage = os.path.join(root, ".stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        shutil.rmtree(stage)

    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "s32",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": o.schema.json(),
                "partitionColumns": [],
                "configuration": {},
            }
        },
    ]
    for yr in years:
        rel = f"yr-{yr}.parquet"
        put(o.filter(F.col("yr") == yr), rel)
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {},
                    "size": os.path.getsize(os.path.join(root, rel)),
                    "modificationTime": 0,
                    "dataChange": True,
                    "stats": _json.dumps(
                        {
                            "numRecords": None,
                            "minValues": {"yr": int(yr)},
                            "maxValues": {"yr": int(yr)},
                        }
                    ),
                }
            }
        )
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    cut = 1996
    df = read_delta(spark, root, predicates=[("yr", ">=", cut)])
    # pruning proof: exactly the admitted years' files reach the plan
    want = {f"yr-{y}.parquet" for y in years if y >= cut}
    got = {os.path.basename(p) for p in df.inputFiles()}
    assert got == want, (got, want)
    return (
        df.filter(F.col("yr") >= cut)
        .groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@query(
    "s33_iceberg_incremental",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT) + 55) AS BIGINT)
             AS bal_c,
           CAST(min(c_custkey + 3000000) AS BIGINT) AS min_k
    FROM customer WHERE c_custkey % 29 = 0
    """,
)
def q_s33(spark, sf):
    """S33 — Iceberg INCREMENTAL APPEND scan as a batch read
    (sources/iceberg.py `read_iceberg_changes`): the CDC-consumption
    surface on snapshot lineage. Export 1 publishes the customer base;
    a second SnapshotTable append (``% 29`` keys shifted +3M at +55
    cents) exports as a REAL append snapshot (the incremental exporter
    writes ONE added-files manifest and carries snapshot 1's manifests
    by path). The window ``(1, 2]`` must return exactly the appended
    rows stamped ``_snapshot_id = 2`` — a reader that re-emitted base
    rows, missed inheritance, or read snapshot 1's files breaks the
    aggregate DuckDB recomputes from base customer rows. In-entry
    asserts pin the snapshot-2 stamp and that base files never enter
    the plan."""
    from .sources.iceberg import export_iceberg, read_iceberg_changes
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s33", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    extra = c.filter(F.col("c_custkey") % 29 == 0).select(
        (F.col("c_custkey") + 3_000_000).alias("c_custkey"),
        (F.col("bal_c") + 55).alias("bal_c"),
    )
    t.append(extra)
    assert export_iceberg(t) == 2
    inc = read_iceberg_changes(spark, t.root, from_snapshot_id=1)
    assert {r["_snapshot_id"] for r in inc.select("_snapshot_id").distinct().collect()} <= {2}
    # base files never enter the plan: the window scans only what
    # snapshot 2 added (a strict subset of the live set)
    from .sources.iceberg import read_iceberg as _ri
    assert set(inc.inputFiles()) < set(_ri(spark, t.root).inputFiles())
    return inc.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bal_c").cast("long").alias("bal_c"),
        F.min("c_custkey").cast("long").alias("min_k"),
    )


@query(
    "s28_delta_cdf",
    oracle="""
    WITH base AS (
      SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer
    ), ch AS (
      SELECT 0 AS v, 'insert' AS ct, c_custkey, bal FROM base
      UNION ALL
      SELECT 1, 'update_preimage', c_custkey, bal
      FROM base WHERE c_custkey % 44 = 0
      UNION ALL
      SELECT 1, 'update_postimage', c_custkey, bal + 700
      FROM base WHERE c_custkey % 44 = 0
      UNION ALL
      SELECT 2, 'insert', c_custkey + 3000000, CAST(55 AS BIGINT)
      FROM base WHERE c_custkey % 37 = 0
    )
    SELECT CAST(v AS BIGINT) AS _commit_version, ct AS _change_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(bal) AS BIGINT) AS bal_c,
           CAST(sum(c_custkey) AS BIGINT) AS key_sum
    FROM ch GROUP BY v, ct
    """,
)
def q_s28(spark, sf):
    """S28 — Delta CHANGE DATA FEED read (sources/delta.py
    `read_delta_changes`): the fixture is a foreign CDF-enabled writer's
    log — v0 bulk-inserts customer balances across 4 bucket files; v1
    updates every ``c_custkey % 44 = 0`` key (+700 cents) the way a CDF
    writer commits it: a ``_change_data/`` parquet carrying
    update_preimage/update_postimage rows with their own
    ``_change_type`` PLUS the rewritten data file's remove/add pair
    that the CDF read must IGNORE in favor of the cdc file (44 = 4*11,
    so the rewrite touches exactly bucket 0); v2 is an append-only
    commit whose inserts must be DERIVED from the add action. The
    grouped (version, change type) surface hash-matches DuckDB's
    recompute — a reader that double-counted the superseded add, missed
    the derived insert, or mis-stamped a version breaks it. Plan: one
    scan per file class over the whole range, version/type attached by
    a broadcast manifest join on input_file_name()."""
    from .sources.delta import read_delta_changes

    root = _table_root("s28", sf)
    build_cdf_delta_fixture(spark, sf, root)
    ch = read_delta_changes(spark, root)
    return ch.groupBy("_commit_version", "_change_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("bal_c").cast("long").alias("bal_c"),
        F.sum("c_custkey").cast("long").alias("key_sum"),
    )


def build_cdf_delta_fixture(spark, sf, root: str) -> None:
    """The shared s28/st17 foreign-CDF-writer table: v0 bulk insert
    (4 bucket files), v1 cdc update commit (+700 on %44 keys, cdc file
    + superseded remove/add), v2 append-only insert (%37 keys shifted
    +3,000,000 at 55 cents)."""
    import json as _json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    c = (
        read_table(spark, sf, "customer")
        .select(
            "c_custkey",
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        )
        .toPandas()
        .sort_values("c_custkey")
    )

    def write(rel, pdf, extra=None):
        p = os.path.join(root, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        cols = {
            "c_custkey": pdf["c_custkey"].astype("int64"),
            "bal_c": pdf["bal_c"].astype("int64"),
        }
        if extra is not None:
            cols["_change_type"] = extra
        pq.write_table(pa.table(cols), p)

    def commit(version, actions):
        log = os.path.join(root, "_delta_log")
        os.makedirs(log, exist_ok=True)
        with open(os.path.join(log, f"{version:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    schema_string = _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": "c_custkey", "type": "long", "nullable": True,
                 "metadata": {}},
                {"name": "bal_c", "type": "long", "nullable": True,
                 "metadata": {}},
            ],
        }
    )
    acts0 = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {
            "metaData": {
                "id": "s28",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": schema_string,
                "partitionColumns": [],
                "configuration": {"delta.enableChangeDataFeed": "true"},
            }
        },
    ]
    for b in range(4):
        g = c[c["c_custkey"] % 4 == b]
        write(f"b{b}.parquet", g)
        acts0.append(
            {"add": {"path": f"b{b}.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True}}
        )
    commit(0, acts0)
    upd = c[c["c_custkey"] % 44 == 0]
    pre = upd.copy()
    post = upd.copy()
    post["bal_c"] = post["bal_c"] + 700
    import pandas as pd

    cdc = pd.concat([pre, post], ignore_index=True)
    write(
        "_change_data/cdc-1.parquet",
        cdc,
        ["update_preimage"] * len(pre) + ["update_postimage"] * len(post),
    )
    b0 = c[c["c_custkey"] % 4 == 0].copy()
    b0.loc[b0["c_custkey"] % 44 == 0, "bal_c"] += 700
    write("b0-1.parquet", b0)
    commit(
        1,
        [
            {"cdc": {"path": "_change_data/cdc-1.parquet",
                     "partitionValues": {}, "size": 1, "dataChange": False}},
            {"remove": {"path": "b0.parquet", "dataChange": True,
                        "deletionTimestamp": 1}},
            {"add": {"path": "b0-1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 1, "dataChange": True}},
        ],
    )
    ins = c[c["c_custkey"] % 37 == 0].copy()
    ins["c_custkey"] = ins["c_custkey"] + 3_000_000
    ins["bal_c"] = 55
    write("ins.parquet", ins)
    commit(
        2,
        [{"add": {"path": "ins.parquet", "partitionValues": {}, "size": 1,
                  "modificationTime": 2, "dataChange": True}}],
    )


@query(
    "s20_iceberg_pos_delete",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer WHERE c_custkey % 13 <> 0
    """,
)
def q_s20(spark, sf):
    """S20 — Iceberg v2 POSITIONAL-DELETE read (sources/iceberg.py):
    the table is exported as real Iceberg metadata (s18's path), then a
    foreign-writer-shaped DELETE snapshot is appended — a parquet delete
    file of (file_path, pos) rows sorted per spec plus a DELETE manifest
    (content=1) and a new metadata version — targeting every row with
    ``c_custkey % 13 == 0`` at its actual (data file, row ordinal)
    coordinates taken from Spark's parquet ``_metadata``. The read
    applies the deletes with a broadcast (file, pos) anti-join against
    ``_metadata.row_index``; DuckDB recomputes the post-delete table
    directly, so a reader that resurrected deleted rows, matched the
    wrong file, or was off by one in the ordinal breaks the row-level
    hash. In-entry asserts pin pre-delete time travel."""
    from .sources.iceberg import (
        append_position_deletes,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s20", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    n_all = c.count()
    # (data file, row ordinal) coordinates of the doomed rows, exactly
    # as a MERGE/DELETE writer would record them
    targets = [
        (r["fp"], r["pos"])
        for r in read_iceberg(spark, t.root)
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "c_custkey",
        )
        .filter(F.col("c_custkey") % 13 == 0)
        .collect()
    ]
    assert targets
    append_position_deletes(t.root, targets)
    # pre-delete snapshot still sees every row (time travel)
    assert read_iceberg(spark, t.root, snapshot_id=1).count() == n_all
    return read_iceberg(spark, t.root)


@query(
    "s21_delta_column_mapping",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS bal_c
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_s21(spark, sf):
    """S21 — Delta COLUMN MAPPING 'name' mode read (sources/delta.py
    ``_physical_type`` + the physical->logical restore in
    ``read_delta``): the table any real Delta writer produces after a
    column rename — data files store ``col-<uuid>`` PHYSICAL names, the
    logical schema lives only in the field metadata, and partitionValues
    are keyed by physical name. The fixture writes per-segment parquet
    under physical names and a name-mode log; the read must restore the
    logical columns and segment values exactly or DuckDB's recompute
    from the base customer rows breaks the hash."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.delta import read_delta

    root = _table_root("s21", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )

    def put(df, rel):
        stage = os.path.join(root, rel + ".stage")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(root, rel))
        shutil.rmtree(stage)

    def fld(name, typ, phys, cid):
        return {
            "name": name, "type": typ, "nullable": True,
            "metadata": {
                "delta.columnMapping.id": cid,
                "delta.columnMapping.physicalName": phys,
            },
        }

    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {
            "metaData": {
                "id": "s21",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            fld("c_custkey", "long", "col-k1", 1),
                            fld("bal_c", "long", "col-b2", 2),
                            fld("c_mktsegment", "string", "col-s3", 3),
                        ],
                    }
                ),
                "partitionColumns": ["c_mktsegment"],
                "configuration": {"delta.columnMapping.mode": "name"},
            }
        },
    ]
    for i, s in enumerate(segs):
        rel = f"seg{i}.parquet"
        put(
            c.filter(F.col("c_mktsegment") == s).select(
                F.col("c_custkey").alias("col-k1"),
                F.col("bal_c").alias("col-b2"),
            ),
            rel,
        )
        actions.append(
            {
                "add": {
                    "path": rel,
                    "partitionValues": {"col-s3": s},  # physical key (spec)
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            }
        )
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")
    return (
        read_delta(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


@query(
    "s22_delta_deletion_vectors",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer WHERE c_custkey % 7 <> 0
    """,
)
def q_s22(spark, sf):
    """S22 — Delta DELETION-VECTOR read (sources/dv.py + read_delta):
    the MERGE/DELETE shape every modern Delta writer produces — rows
    die via a roaring-bitmap sidecar, the data file is untouched. The
    fixture writes a partitioned table (v0), then commits v1 re-adding
    each file WITH a deletion vector (spec framing: version byte, BE
    size + bitmap + CRC-32) targeting every ``c_custkey % 7 == 0`` row
    at its actual parquet row ordinal (taken from ``_metadata``). The
    read decodes the bitmaps and anti-joins (file, row_index); DuckDB
    recomputes the post-delete table directly, so an off-by-one
    ordinal, a mis-decoded container, or a resurrected row breaks the
    row-level hash. In-entry asserts pin pre-DV time travel."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.delta import read_delta
    from .sources.dv import write_dv_file

    root = _table_root("s22", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    n_all = c.count()
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )

    def put(df, rel):
        stage = os.path.join(root, rel + ".stage")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(root, rel))
        shutil.rmtree(stage)

    def add(rel, seg, dv=None):
        a = {
            "path": rel,
            "partitionValues": {"c_mktsegment": seg},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
        if dv:
            a["deletionVector"] = dv
        return {"add": a}

    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)

    def commit(v, actions):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    rel_of = {}
    adds0 = []
    for i, s in enumerate(segs):
        rel = f"seg{i}.parquet"
        put(c.filter(F.col("c_mktsegment") == s).select("c_custkey", "bal_c"), rel)
        rel_of[os.path.abspath(os.path.join(root, rel))] = (rel, s)
        adds0.append(add(rel, s))
    data_schema = "c_custkey bigint, bal_c bigint"
    commit(
        0,
        [
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["deletionVectors"],
                }
            },
            {
                "metaData": {
                    "id": "s22",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": _parse_datatype_string(f"{data_schema}, c_mktsegment string").json(),
                    "partitionColumns": ["c_mktsegment"],
                    "configuration": {},
                }
            },
        ]
        + adds0,
    )
    # the doomed rows' ACTUAL (file, row ordinal) coordinates
    by_file: dict[str, list[int]] = {}
    for r in (
        spark.read.schema(data_schema).parquet(*sorted(rel_of))
        .select(
            decoded_file_path(F.col("_metadata.file_path")).alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "c_custkey",
        )
        .filter(F.col("c_custkey") % 7 == 0)
        .collect()
    ):
        by_file.setdefault(r["fp"], []).append(int(r["pos"]))
    assert by_file
    adds1 = []
    for i, (fp, poss) in enumerate(sorted(by_file.items())):
        rel, seg = rel_of[fp]
        desc = write_dv_file(os.path.join(root, f"dv{i}.bin"), poss)
        adds1.append(add(rel, seg, dv=desc))
    commit(1, [{"commitInfo": {"operation": "DELETE"}}] + adds1)
    # pre-DV snapshot still sees every row (time travel)
    assert read_delta(spark, root, version=0).count() == n_all
    return read_delta(spark, root).select("c_custkey", "bal_c")


@query(
    "s23_iceberg_eq_delete",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer WHERE c_custkey % 23 <> 0
    """,
)
def q_s23(spark, sf):
    """S23 — Iceberg v2 EQUALITY-DELETE read (sources/iceberg.py): the
    Flink-CDC upsert shape — rows die by VALUE match, ordered by the
    spec's sequence numbers (a delete at sequence s removes only rows
    of data files with sequence < s). The fixture exports a table
    (sequence 1), appends an equality-delete snapshot (sequence 2)
    listing every ``c_custkey % 23 == 0`` key, and reads back through
    the metadata: per delete file one broadcast null-safe LEFT
    ANTI-join. DuckDB recomputes the post-delete table directly; a
    reader that matched the wrong column, ignored sequence ordering,
    or resurrected a deleted key breaks the row-level hash. In-entry
    asserts pin pre-delete time travel."""
    from .sources.iceberg import (
        append_equality_deletes,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s23", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    n_all = c.count()
    doomed = [
        {"c_custkey": r["c_custkey"]}
        for r in c.filter(F.col("c_custkey") % 23 == 0)
        .select("c_custkey")
        .collect()
    ]
    assert doomed
    append_equality_deletes(t.root, doomed, ["c_custkey"])
    # pre-delete snapshot still sees every row (time travel)
    assert read_iceberg(spark, t.root, snapshot_id=1).count() == n_all
    return read_iceberg(spark, t.root)


@query(
    "s24_delta_v2_checkpoint",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)
                    + CASE WHEN c_mktsegment =
                               (SELECT min(c_mktsegment) FROM customer)
                           THEN 10000 ELSE 0 END) AS BIGINT) AS bal_c
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_s24(spark, sf):
    """S24 — Delta V2 CHECKPOINT replay (sources/delta.py
    ``_load_checkpoint_v2``): the checkpoint layout newer writers
    compact into — a ``00...0.checkpoint.<uuid>.json`` manifest whose
    ``sidecar`` actions point at add-row parquets under
    ``_delta_log/_sidecars/`` — with NO JSON commit 0 at all (vacuumed
    away, the state real long-lived tables are in), plus a JSON commit
    1 swapping the first segment's file (+10000 cents). The read must
    reconstruct the snapshot from the manifest + BOTH sidecars and
    apply the post-checkpoint diff; DuckDB recomputes the final table
    from the base customer rows, so a dropped sidecar, a mis-parsed
    partitionValues map, or a replay that still wanted commit 0 breaks
    the hash."""
    import glob
    import json as _json
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .sources.delta import read_delta

    root = _table_root("s24", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )

    def put(df, rel):
        stage = os.path.join(root, rel + ".stage")
        df.coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(root, rel))
        shutil.rmtree(stage)

    for i, s in enumerate(segs):
        put(c.filter(F.col("c_mktsegment") == s).select("c_custkey", "bal_c"),
            f"seg{i}.parquet")
    log = os.path.join(root, "_delta_log")
    sc_dir = os.path.join(log, "_sidecars")
    os.makedirs(sc_dir, exist_ok=True)
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )

    def sidecar(name, pairs):
        pq.write_table(
            pa.table(
                {
                    "add": pa.array(
                        [
                            {
                                "path": rel,
                                "partitionValues": {"c_mktsegment": seg},
                                "size": 1,
                                "modificationTime": 0,
                                "dataChange": False,
                            }
                            for rel, seg in pairs
                        ],
                        type=add_t,
                    )
                }
            ),
            os.path.join(sc_dir, name),
        )

    pairs = [(f"seg{i}.parquet", s) for i, s in enumerate(segs)]
    half = max(1, len(pairs) // 2)
    sidecar("sc-0.parquet", pairs[:half])
    sidecar("sc-1.parquet", pairs[half:])
    manifest = os.path.join(log, f"{0:020d}.checkpoint.s24-uuid.json")
    with open(manifest, "w") as f:
        for a in (
            {"checkpointMetadata": {"version": 0}},
            {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                          "readerFeatures": ["v2Checkpoint"]}},
            {
                "metaData": {
                    "id": "s24",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": c.schema.json(),
                    "partitionColumns": ["c_mktsegment"],
                    "configuration": {},
                }
            },
            {"sidecar": {"path": "sc-0.parquet", "sizeInBytes": 1}},
            {"sidecar": {"path": "sc-1.parquet", "sizeInBytes": 1}},
        ):
            f.write(_json.dumps(a) + "\n")
    # NOTE: no 00000000000000.json — the replay MUST start at the
    # v2 checkpoint (the vacuumed long-lived-table state)
    target = segs[0]
    put(
        c.filter(F.col("c_mktsegment") == target).select(
            "c_custkey", (F.col("bal_c") + 10000).alias("bal_c")
        ),
        "seg_swap.parquet",
    )
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(_json.dumps({"commitInfo": {"operation": "MERGE"}}) + "\n")
        f.write(_json.dumps({"remove": {"path": "seg0.parquet",
                                        "deletionTimestamp": 1,
                                        "dataChange": True}}) + "\n")
        f.write(_json.dumps({"add": {"path": "seg_swap.parquet",
                                     "partitionValues": {"c_mktsegment": target},
                                     "size": 1, "modificationTime": 1,
                                     "dataChange": True}}) + "\n")
    # the checkpoint state itself also stays time-travelable
    assert read_delta(spark, root, version=0).count() == c.count()
    return (
        read_delta(spark, root)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("bal_c").cast("long").alias("bal_c"),
        )
    )


@query(
    "s25_hudi_incremental",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) + 10000 AS bal_c
    FROM customer
    WHERE c_mktsegment = (SELECT min(c_mktsegment) FROM customer)
      AND c_custkey % 3 = 0
    """,
)
def q_s25(spark, sf):
    """S25 — Hudi INCREMENTAL QUERY (sources/hudi.py
    ``read_hudi_incremental``): the change-feed consumption shape Hudi
    exists for — a downstream job reads only the rows committed after
    its last processed instant. Commit 2 rewrites the first segment's
    file group the way a real COW upsert does: every ``%3`` key is
    UPDATED (+10000, stamped instant 2) while the other rows are
    CARRIED FORWARD under their ORIGINAL instant-1 commit time. The
    incremental read over ``(t1, latest]`` must open ONLY the touched
    file group (plan-asserted) and return exactly the updated rows —
    a reader that trusted file granularity instead of per-row commit
    times would leak every carried-forward row and break DuckDB's
    row-level hash."""
    import glob
    import os
    import shutil

    from .sources.hudi import read_hudi, read_hudi_incremental

    root = _table_root("s25", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
        "c_mktsegment",
    )
    n_all = c.count()
    segs = sorted(
        r["c_mktsegment"] for r in c.select("c_mktsegment").distinct().collect()
    )
    t1, t2 = "00000000000001", "00000000000002"

    def put(df, part, file_id, instant, commit_time_col):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        meta = df.select(
            commit_time_col.alias("_hoodie_commit_time"),
            F.lit(f"{instant}_0").alias("_hoodie_commit_seqno"),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(f"{file_id}_1-0-1_{instant}.parquet").alias(
                "_hoodie_file_name"
            ),
            "c_custkey",
            "bal_c",
        )
        stage = os.path.join(root, f".stage_{file_id}_{instant}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, f"{file_id}_1-0-1_{instant}.parquet"))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=s25\nhoodie.table.type=COPY_ON_WRITE\n")
    for i, s in enumerate(segs):
        put(
            c.filter(F.col("c_mktsegment") == s),
            s, f"fg{i}", t1, F.lit(t1),
        )
    open(os.path.join(hdir, f"{t1}.commit"), "w").close()
    # the COW upsert rewrite: %3 keys updated (stamped t2), the rest
    # carried forward under their ORIGINAL t1 commit time
    upd = F.col("c_custkey") % 3 == 0
    put(
        c.filter(F.col("c_mktsegment") == segs[0]).withColumn(
            "bal_c", F.col("bal_c") + F.when(upd, 10000).otherwise(0)
        ),
        segs[0], "fg0", t2,
        F.when(upd, F.lit(t2)).otherwise(F.lit(t1)),
    )
    open(os.path.join(hdir, f"{t2}.commit"), "w").close()
    # the rewrite preserved the snapshot row set
    assert read_hudi(spark, root).count() == n_all
    inc = read_hudi_incremental(spark, root, begin=t1)
    # only the touched file group is opened
    assert all("fg0" in os.path.basename(p) for p in inc.inputFiles())
    return inc.select("c_custkey", "bal_c")


@query(
    "w15_resample_ffill",
    oracle="""
    WITH obs AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) * 3600 AS bucket,
             round(avg(value), 6) AS v
      FROM events WHERE event_type IS NOT NULL
      GROUP BY 1, 2
    ),
    spans AS (
      SELECT event_type, min(bucket) AS lo, max(bucket) AS hi
      FROM obs GROUP BY 1
    ),
    grid AS (
      SELECT s.event_type, g.g AS bucket
      FROM spans s, LATERAL unnest(generate_series(s.lo, s.hi, 3600)) AS g(g)
    ),
    j AS (
      SELECT g.event_type, g.bucket, o.v
      FROM grid g LEFT JOIN obs o USING (event_type, bucket)
    )
    SELECT event_type, bucket,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value
    FROM j
    """,
)
def q_w15(spark, sf):
    """W15 — time-series RESAMPLE + forward gap-fill
    (operators.relational.resample_ffill): per event_type, hourly
    bucket means on a REGULAR grid spanning that key's range, empty
    hours carrying the last observed mean — pandas
    ``resample('1h').mean().ffill()`` distributed. One pass over raw
    rows (map-combinable bucket means), then all work is grid-sized;
    the bucket mean is rounded BEFORE filling so the propagated double
    is bit-stable across engines. DuckDB rebuilds the identical grid
    with generate_series + IGNORE NULLS last_value."""
    from .operators.relational import resample_ffill

    e = read_table(spark, sf, "events").select("ts", "event_type", "value")
    e = e.filter(F.col("event_type").isNotNull())
    return resample_ffill(
        e, "ts", "value", keys=["event_type"], step_sec=3600
    )


@query(
    "j15_bucketed_join",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l.l_extendedprice), 4) AS total,
           TRUE AS join_shuffle_free
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def q_j15(spark, sf):
    """J15 — ZERO-EXCHANGE co-located join via BUCKETED tables
    (sources.io.write_bucketed): both facts land bucketed+sorted on the
    join key with equal bucket counts, so the sort-merge join reads
    matching buckets directly — the plan's JOIN SUBTREE contains no
    Exchange at all (asserted into the hash via ``join_shuffle_free``;
    the merge hint pins SMJ so a broadcast can't mask the property).
    This is THE repeatedly-joined-fact-table strategy at 100 TB: the
    shuffle is paid once at layout time, then every subsequent join of
    these tables is scan+sort-free-merge. The aggregate surface
    hash-matches the plain-join oracle, proving the bucketed path loses
    and duplicates nothing."""
    import atexit
    import hashlib
    import os
    import shutil
    import tempfile

    from .sources.io import write_bucketed

    o = read_table(spark, sf, "orders").select("o_orderkey", "o_orderstatus")
    l = read_table(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    tag = f"{os.getpid()}_{hashlib.md5(sf.encode()).hexdigest()[:8]}"
    troot = os.path.join(tempfile.gettempdir(), f"j15_{tag}")
    to, tl = f"j15_orders_{tag}", f"j15_lineitem_{tag}"
    if troot not in _SNAP_DIRS:
        _SNAP_DIRS.add(troot)
        atexit.register(shutil.rmtree, troot, ignore_errors=True)
    write_bucketed(o, to, ["o_orderkey"], n_buckets=8,
                   sort_cols=["o_orderkey"], path=os.path.join(troot, "o"))
    write_bucketed(l, tl, ["l_orderkey"], n_buckets=8,
                   sort_cols=["l_orderkey"], path=os.path.join(troot, "l"))
    bo, bl = spark.table(to), spark.table(tl)
    joined = bo.hint("merge").join(bl, bo["o_orderkey"] == bl["l_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    shuffle_free = "Exchange" not in plan
    return joined.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.sum("l_extendedprice"), 4).alias("total"),
        F.lit(bool(shuffle_free)).alias("join_shuffle_free"),
    )


@query(
    "s35_hudi_col_stats_skip",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM orders
    WHERE year(o_orderdate) >= 1995
    GROUP BY year(o_orderdate)
    """,
)
def q_s35(spark, sf):
    """S35 — Hudi DATA SKIPPING via the metadata table's COLUMN_STATS
    partition (sources/hudi.py `_col_stats_prune` behind
    ``read_hudi(predicates=)``): the per-file min/max bounds every
    stats-indexing Hudi writer maintains as type-3
    ``HoodieMetadataColumnStats`` records (public
    HoodieMetadataRecord.avsc). The fixture lays orders down as one
    COW file group per order YEAR, then builds the metadata table the
    way a writer would — files partition + column_stats harvested from
    the real parquet footers into an AVRO log block (min/max in the
    spec's wrapper-record union). The read with ``yr >= 1995`` must
    prune every earlier year's file at the METADATA level — KBs of
    driver-side stats instead of a footer open per file; the in-entry
    assert pins the plan to exactly the admitted files. A predicate on
    an UN-indexed column must prune nothing (conservative contract).
    DuckDB recomputes the admitted years' aggregate from base orders
    rows, so over-pruning loses rows and breaks the hash;
    under-pruning fails the inputFiles assert."""
    import glob
    import os
    import shutil

    from .sources.hudi import (
        read_hudi,
        write_metadata_table_column_stats,
        write_metadata_table_files,
    )

    root = _table_root("s35", sf)
    o = read_table(spark, sf, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.year("o_orderdate").cast("long").alias("yr"),
    )
    years = sorted(r["yr"] for r in o.select("yr").distinct().collect())
    t1 = "00000000000001"

    def put(df, part, file_id):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        fname = f"{file_id}_1-0-1_{t1}.parquet"
        meta = df.select(
            F.lit(t1).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(t1), F.lit(file_id)).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("o_orderkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(fname).alias("_hoodie_file_name"),
            "o_orderkey",
            "cents",
            "yr",
        )
        stage = os.path.join(root, f".stage_{file_id}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, fname))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=s35\nhoodie.table.type=COPY_ON_WRITE\n")
    for yr in years:
        put(o.filter(F.col("yr") == yr), str(yr), f"fg{yr}")
    open(os.path.join(hdir, f"{t1}.commit"), "w").close()
    write_metadata_table_files(root)
    write_metadata_table_column_stats(root, columns=["yr"])
    cut = 1995
    df = read_hudi(spark, root, predicates=[("yr", ">=", cut)])
    # pruning proof: exactly the admitted years' file groups reach the plan
    want = {f"fg{y}_1-0-1_{t1}.parquet" for y in years if y >= cut}
    got = {os.path.basename(p) for p in df.inputFiles()}
    assert got == want, (got, want)
    # conservative contract: an UN-indexed column's predicate keeps all
    assert len(
        read_hudi(spark, root, predicates=[("cents", ">", 0)]).inputFiles()
    ) == len(years)
    return (
        df.filter(F.col("yr") >= cut)
        .groupBy("yr")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("cents"),
        )
    )


@query(
    "s36_hudi_bloom_lookup",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(min(c_custkey) AS BIGINT) AS lo,
           CAST(max(c_custkey) AS BIGINT) AS hi
    FROM customer
    WHERE c_custkey % 64 = 9
    """,
)
def q_s36(spark, sf):
    """S36 — Hudi BLOOM-INDEX point lookup via the metadata table's
    BLOOM_FILTERS partition (sources/bloom.py Hadoop-Writable SIMPLE
    filter + sources/hudi.py behind ``read_hudi(record_keys=)``): the
    fixture hashes customers into 8 COW file groups by
    ``c_custkey % 8``, builds per-file bloom filters over
    ``_hoodie_record_key`` the way a stats-indexing writer does, then
    fetches the keys ``c_custkey % 64 == 9`` — all living in ONE file
    group. The read must plan exactly that group's file (the
    fetch-five-records-without-a-table-scan lever; bloom false
    positives could only ADD files, never lose rows — and the in-entry
    assert pins that none occurred). DuckDB recomputes the same key
    set's aggregate from base customer rows."""
    import glob
    import os
    import shutil

    from .sources.hudi import read_hudi, write_metadata_table_bloom_filters

    root = _table_root("s36", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t1 = "00000000000001"

    def put(df, part, file_id):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        fname = f"{file_id}_1-0-1_{t1}.parquet"
        meta = df.select(
            F.lit(t1).alias("_hoodie_commit_time"),
            F.concat_ws("_", F.lit(t1), F.lit(file_id)).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(fname).alias("_hoodie_file_name"),
            "c_custkey",
            "cents",
        )
        stage = os.path.join(root, f".stage_{file_id}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, fname))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write("hoodie.table.name=s36\nhoodie.table.type=COPY_ON_WRITE\n")
    for g in range(8):
        put(c.filter(F.col("c_custkey") % 8 == g), f"g{g}", f"fg{g}")
    open(os.path.join(hdir, f"{t1}.commit"), "w").close()
    write_metadata_table_bloom_filters(root)
    keys = sorted(
        r["c_custkey"]
        for r in c.filter(F.col("c_custkey") % 64 == 9).collect()
    )
    df = read_hudi(spark, root, record_keys=keys)
    # pruning proof: the sought keys all live in group 9 % 8 == 1, and
    # the bloom prune planned exactly that one file (no false positives)
    got = {os.path.basename(p) for p in df.inputFiles()}
    assert got == {f"fg1_1-0-1_{t1}.parquet"}, got
    return df.filter(F.col("c_custkey").isin(keys)).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.min("c_custkey").cast("long").alias("lo"),
        F.max("c_custkey").cast("long").alias("hi"),
    )


@query(
    "s37_iceberg_v3_dv",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer WHERE c_custkey % 11 <> 3
    """,
)
def q_s37(spark, sf):
    """S37 — Iceberg FORMAT-V3 DELETION-VECTOR read (sources/iceberg.py
    + sources/puffin.py): the table is exported as real Iceberg
    metadata (s18's path), then a v3-writer-shaped DELETE snapshot is
    appended — ONE Puffin file holding a ``deletion-vector-v1`` blob
    (64-bit roaring PORTABLE serialization, magic + CRC-32 framed) per
    touched data file, a DELETE manifest whose PUFFIN entries carry the
    spec's ``referenced_data_file``/``content_offset``/
    ``content_size_in_bytes`` fields, and a ``format-version: 3``
    metadata version — targeting every row with ``c_custkey % 11 == 3``
    at its actual (data file, row ordinal) coordinates. The read routes
    each blob to an EXECUTOR-side decode (mapInPandas over the tiny
    blob-coordinate spec; the positions never materialize driver-side)
    and anti-joins against ``_metadata.row_index`` exactly like v2
    positional parquet. DuckDB recomputes the post-delete table, so a
    reader that mis-decoded the roaring vector, matched the wrong
    referenced file, or dropped the v2→v3 delete path breaks the
    row-level hash. In-entry asserts pin pre-delete time travel and
    that multiple file groups got vectors."""
    from collections import defaultdict

    from .sources.iceberg import (
        append_deletion_vectors,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s37", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    n_all = c.count()
    # (data file -> row ordinals) exactly as a v3 DELETE writer records
    # them, from Spark's parquet _metadata
    by_file: dict[str, list[int]] = defaultdict(list)
    for r in (
        read_iceberg(spark, t.root)
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("pos"),
            "c_custkey",
        )
        .filter(F.col("c_custkey") % 11 == 3)
        .collect()
    ):
        by_file[r["fp"]].append(r["pos"])
    assert len(by_file) > 1, "DV fixture should span multiple file groups"
    append_deletion_vectors(t.root, dict(by_file))
    # pre-delete snapshot still sees every row (time travel across the
    # v2 -> v3 format bump)
    assert read_iceberg(spark, t.root, snapshot_id=1).count() == n_all
    return read_iceberg(spark, t.root)


@query(
    "s38_iceberg_schema_evolution",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS balance_cents,
           CAST(NULL AS VARCHAR) AS seg
    FROM customer
    UNION ALL
    SELECT c_custkey + 5000000,
           CAST(floor(c_acctbal * 100) AS BIGINT),
           'NEW'
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def q_s38(spark, sf):
    """S38 — Iceberg SCHEMA EVOLUTION read (sources/iceberg.py
    ``_vintage_groups`` / ``_vintage_scan``): the spec resolves data-
    file columns by FIELD ID, so after an ``ALTER TABLE`` rename a
    name-based scan silently returns NULL for every pre-rename file.
    The fixture exports the table (schema 0: ``c_custkey long,
    bal_c int``), then commits a foreign-writer-shaped evolution
    (schema 1: id 2 RENAMED bal_c -> balance_cents and PROMOTED
    int -> long, new id 3 ``seg string``) plus an append snapshot of
    files written under the new names. The read groups files by their
    adding snapshot's schema-id — metadata only, no parquet footers —
    scans each vintage under its write-time names/types, restores
    current names by field id, casts the spec-legal promotion exactly,
    NULL-fills the added column, and unions. DuckDB recomputes both
    vintages from base customer rows, so a reader that nulled the
    renamed column, mis-cast the promotion, or leaked write-time names
    breaks the row-level hash. In-entry asserts pin that time travel
    to the pre-evolution snapshot ALSO serves the current schema (spec
    read semantics) with no NULL balance_cents."""
    import glob
    import os
    import shutil

    from .sources.iceberg import (
        commit_schema_evolution,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("int").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s38", sf),
        "c_custkey bigint, bal_c int",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    n_all = c.count()
    # files a post-evolution writer appends: NEW names, promoted type
    new = (
        c.filter(F.col("c_custkey") % 10 == 0)
        .select(
            (F.col("c_custkey") + 5_000_000).alias("c_custkey"),
            F.col("bal_c").cast("long").alias("balance_cents"),
            F.lit("NEW").alias("seg"),
        )
    )
    n_new = new.count()
    stage = os.path.join(t.root, "evo.stage")
    new.coalesce(1).write.parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    evo_file = os.path.join(t.root, "data-evo-0.parquet")
    shutil.move(part, evo_file)
    shutil.rmtree(stage)
    commit_schema_evolution(
        t.root,
        [
            {"id": 1, "name": "c_custkey", "type": "long"},
            {"id": 2, "name": "balance_cents", "type": "long"},
            {"id": 3, "name": "seg", "type": "string"},
        ],
        added_files=[(evo_file, n_new)],
    )
    # spec read semantics: old snapshots are read under the CURRENT
    # schema too — renamed column resolves by id, never NULL
    old = read_iceberg(spark, t.root, snapshot_id=1)
    assert old.columns == ["c_custkey", "balance_cents", "seg"]
    assert old.filter(F.col("balance_cents").isNull()).count() == 0
    assert old.count() == n_all
    return read_iceberg(spark, t.root)


@query(
    "s41_iceberg_nested_evolution",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS balance_cents,
           CAST(c_nationkey AS BIGINT) AS nation,
           CAST(NULL AS VARCHAR) AS tier
    FROM customer
    UNION ALL
    SELECT c_custkey + 6000000,
           CAST(floor(c_acctbal * 100) AS BIGINT),
           CAST(c_nationkey AS BIGINT),
           'T1'
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def q_s41(spark, sf):
    """S41 — Iceberg NESTED schema evolution read (sources/iceberg.py
    ``_vintage_expr`` / ``_vintage_read_type``): the spec resolves
    columns by field id at EVERY nesting level, so after struct-
    internal evolution a name-based scan silently NULLs renamed
    members. The fixture exports a table whose ``profile`` column is a
    STRUCT (schema 0: ``profile struct<bal_c:int, nation:long>``,
    nested ids 3/4), then commits a foreign-writer evolution INSIDE
    the struct (schema 1: id 3 RENAMED bal_c -> balance_cents and
    PROMOTED int -> long, id 4 kept, new id 5 ``tier string`` ADDED)
    plus an append of files written under the new inner layout. The
    read scans each vintage under its write-time NESTED names/types,
    rebuilds the current struct member-by-member by id (rename
    restored, promotion cast exactly, added member NULL-filled — all
    JVM column expressions inside the scan's codegen span, no UDF),
    and unions. The returned frame FLATTENS the struct so DuckDB can
    recompute both vintages from base customer rows — a reader that
    nulled the renamed inner member, mis-cast the inner promotion, or
    resurrected the write-time member name breaks the row-level hash.
    In-entry asserts pin that time travel to the pre-evolution
    snapshot also serves the current NESTED schema with no NULL
    balance_cents."""
    from .sources.iceberg import read_iceberg

    root = _table_root("s41", sf)
    n_all, _n_new = build_nested_evolution_iceberg_fixture(spark, sf, root)
    # spec read semantics: the pre-evolution snapshot serves the
    # CURRENT nested schema — inner rename resolves by id, never NULL
    old = read_iceberg(spark, root, snapshot_id=1)
    assert old.schema["profile"].dataType.simpleString() == (
        "struct<balance_cents:bigint,nation:bigint,tier:string>"
    )
    assert old.filter(F.col("profile.balance_cents").isNull()).count() == 0
    assert old.count() == n_all
    return read_iceberg(spark, root).select(
        "c_custkey",
        F.col("profile.balance_cents").alias("balance_cents"),
        F.col("profile.nation").alias("nation"),
        F.col("profile.tier").alias("tier"),
    )


def build_nested_evolution_iceberg_fixture(
    spark, sf: str, root: str, with_default: bool = False
) -> tuple[int, int]:
    """Iceberg table with NESTED schema evolution for s41 + st22:
    snapshot 1 appends every customer under schema 0 (``profile
    struct<bal_c:int, nation:long>``, nested ids 3/4); a foreign-writer
    evolution commits schema 1 (id 3 RENAMED bal_c -> balance_cents and
    PROMOTED int -> long, id 4 kept, new id 5 ``tier string`` added
    INSIDE the struct) plus an append (snapshot 2) of ``%10 == 0``
    customers (+6M keys) written under the new inner layout. With
    ``with_default=True`` the evolution also adds a TOP-LEVEL id 6
    ``grade string`` with ``initial-default: "STD"`` (the appended file
    carries explicit ``grade='NEW'``) and stamps ``format-version: 3``
    — the v3-writer shape. Returns (n_base_rows, n_appended_rows)."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.iceberg import (
        _metadata_path,
        commit_schema_evolution,
        export_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.struct(
            F.floor(F.col("c_acctbal") * 100).cast("int").alias("bal_c"),
            F.col("c_nationkey").cast("long").alias("nation"),
        ).alias("profile"),
    )
    t = SnapshotTable.create(
        spark,
        root,
        "c_custkey bigint, profile struct<bal_c:int,nation:bigint>",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    n_all = c.count()
    # files a post-evolution writer appends: the NEW inner layout
    new = c.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 6_000_000).alias("c_custkey"),
        F.struct(
            F.col("profile.bal_c").cast("long").alias("balance_cents"),
            F.col("profile.nation").alias("nation"),
            F.lit("T1").alias("tier"),
        ).alias("profile"),
        # the post-addition writer applied write-time values
        *([F.lit("NEW").alias("grade")] if with_default else []),
    )
    n_new = new.count()
    stage = os.path.join(t.root, "evo.stage")
    new.coalesce(1).write.parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    evo_file = os.path.join(t.root, "data-evo-0.parquet")
    shutil.move(part, evo_file)
    shutil.rmtree(stage)
    commit_schema_evolution(
        t.root,
        [
            {"id": 1, "name": "c_custkey", "type": "long"},
            {"id": 2, "name": "profile", "type": {
                "type": "struct",
                "fields": [
                    {"id": 3, "name": "balance_cents", "required": False,
                     "type": "long"},
                    {"id": 4, "name": "nation", "required": False,
                     "type": "long"},
                    {"id": 5, "name": "tier", "required": False,
                     "type": "string"},
                ],
            }},
        ]
        + (
            [{"id": 6, "name": "grade", "type": "string",
              "initial-default": "STD", "write-default": "NEW"}]
            if with_default else []
        ),
        added_files=[(evo_file, n_new)],
    )
    if with_default:
        # initial-default is a v3 feature: stamp the version a real
        # v3 writer would
        mp = _metadata_path(t.root)
        with open(mp) as f:
            meta = _json.load(f)
        meta["format-version"] = 3
        with open(mp, "w") as f:
            _json.dump(meta, f)
    return n_all, n_new


@query(
    "s42_hudi_cdc_infer",
    oracle="""
    WITH g2 AS (
      SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_custkey % 4 = 2
    )
    SELECT 'd' AS op, c_custkey,
           cents AS before_cents, CAST(NULL AS BIGINT) AS after_cents
    FROM g2 WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT 'u', c_custkey, cents, cents + 777
    FROM g2 WHERE c_custkey % 5 IN (1, 2)
    UNION ALL
    SELECT 'i', c_custkey + 9000000, CAST(NULL AS BIGINT), cents
    FROM g2 WHERE c_custkey % 20 = 2
    """,
)
def q_s42(spark, sf):
    """S42 — Hudi CDC query (sources/hudi.py ``read_hudi_changes``,
    RFC-51 semantics by slice INFERENCE — the cdc-on-the-fly path real
    Hudi readers take when supplemental cdc logging is absent or
    ``op_key_only``): per commit in the window, each TOUCHED file
    group's state is diffed against its previous slice keyed by
    ``_hoodie_record_key``, emitting op i/u/d with before/after
    images. The fixture hashes customers into 4 COW file groups
    (``c_custkey % 4``), then commit 2 rewrites ONLY group 2:
    ``%5 == 0`` keys deleted (absent from the rewrite), ``%5 in
    (1,2)`` updated (+777 cents, stamped t2), ``%5 in (3,4)`` carried
    forward unchanged under their ORIGINAL commit time, and
    ``%20 == 2`` spawns brand-new keys (+9M). DuckDB recomputes the
    expected image feed per op, so a reader that missed deletes
    (net-rows incremental semantics), emitted carried-forward rows, or
    swapped before/after breaks the hash. The in-entry assert pins the
    scale posture: only the touched group's two slices are opened —
    the three untouched groups are never read."""
    import os

    from .sources.hudi import read_hudi_changes

    root = _table_root("s42", sf)
    t1 = build_cdc_hudi_fixture(spark, sf, root)[0]
    ch = read_hudi_changes(spark, root, begin=t1)
    opened = {os.path.basename(p) for p in ch.inputFiles()}
    assert opened == {
        f"fg2_1-0-1_{t1}.parquet",
        f"fg2_1-0-1_00000000000002.parquet",
    }, opened
    return ch.select(
        "op",
        F.coalesce(
            F.col("after.c_custkey"), F.col("before.c_custkey")
        ).alias("c_custkey"),
        F.col("before.cents").alias("before_cents"),
        F.col("after.cents").alias("after_cents"),
    )


def build_cdc_hudi_fixture(spark, sf: str, root: str) -> tuple[str, str]:
    """4-group COW customer table for the CDC readers (s42 + st20):
    commit 1 inserts every group; commit 2 rewrites ONLY group 2 —
    ``%5 == 0`` keys deleted, ``%5 in (1,2)`` updated (+777 cents),
    ``%5 in (3,4)`` carried under their original commit time, and
    ``%20 == 2`` spawning brand-new keys (+9M). Returns (t1, t2)."""
    import glob
    import os
    import shutil

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t1, t2 = "00000000000001", "00000000000002"

    def put(df, part, file_id, instant):
        d = os.path.join(root, part)
        os.makedirs(d, exist_ok=True)
        fname = f"{file_id}_1-0-1_{instant}.parquet"
        meta = df.select(
            F.col("ct").alias("_hoodie_commit_time"),
            F.concat_ws("_", F.col("ct"), F.lit(file_id)).alias(
                "_hoodie_commit_seqno"
            ),
            F.col("c_custkey").cast("string").alias("_hoodie_record_key"),
            F.lit(part).alias("_hoodie_partition_path"),
            F.lit(fname).alias("_hoodie_file_name"),
            "c_custkey",
            "cents",
        )
        stage = os.path.join(root, f".stage_{file_id}_{instant}")
        meta.coalesce(1).write.parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(d, fname))
        shutil.rmtree(stage)

    hdir = os.path.join(root, ".hoodie")
    os.makedirs(hdir, exist_ok=True)
    with open(os.path.join(hdir, "hoodie.properties"), "w") as f:
        f.write(
            "hoodie.table.name=cdc_fixture\n"
            "hoodie.table.type=COPY_ON_WRITE\n"
        )
    for g in range(4):
        put(
            c.filter(F.col("c_custkey") % 4 == g).withColumn("ct", F.lit(t1)),
            f"g{g}", f"fg{g}", t1,
        )
    open(os.path.join(hdir, f"{t1}.commit"), "w").close()
    g2 = c.filter(F.col("c_custkey") % 4 == 2)
    m5 = F.col("c_custkey") % 5
    carried = g2.filter(m5.isin(3, 4)).withColumn("ct", F.lit(t1))
    updated = (
        g2.filter(m5.isin(1, 2))
        .withColumn("cents", F.col("cents") + 777)
        .withColumn("ct", F.lit(t2))
    )
    inserted = (
        g2.filter(F.col("c_custkey") % 20 == 2)
        .select((F.col("c_custkey") + 9_000_000).alias("c_custkey"), "cents")
        .withColumn("ct", F.lit(t2))
    )
    put(
        carried.unionByName(updated).unionByName(inserted), "g2", "fg2", t2
    )
    open(os.path.join(hdir, f"{t2}.commit"), "w").close()
    return t1, t2


@query(
    "s43_hudi_partitioned_export",
    oracle="""
    SELECT c_custkey,
           c_mktsegment AS seg,
           CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_custkey % 7 = 0 THEN 111 ELSE 0 END AS cents
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def q_s43(spark, sf):
    """S43 — PARTITIONED Hudi export + pruned read-back
    (sources/hudi_export.py ``export_hudi(partition_by=)``): the
    SnapshotTable publishes as a hive-style-partitioned COW table
    (``seg=<mktsegment>/`` dirs, one file group per (partition,
    bucket), partition columns kept inside the data files, per-row
    ``_hoodie_partition_path``), a merge bumps ``c_custkey % 7 == 0``
    rows by 111 cents, and the INCREMENTAL re-export rewrites only the
    touched buckets with per-row commit-time carry-forward intact
    across the partition dirs. The read then asks for ONE partition
    (``partitions="seg=BUILDING"``) — the in-entry assert pins that
    every planned file lives under that dir (listing-level pruning:
    O(one partition), not O(table)) — and DuckDB recomputes that
    partition's post-merge rows, so a reader that missed the
    partition-path keying, re-stamped carried rows, or leaked other
    partitions' files breaks the hash. A second assert pins the
    incremental feed at exactly the merged rows (carry-forward proof
    on the partitioned layout)."""
    import os

    from .sources.hudi import read_hudi, read_hudi_incremental
    from .sources.hudi_export import export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s43", sf),
        "c_custkey bigint, seg string, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_export")
    inst1 = export_hudi(t, dest, partition_by=["seg"])
    upd = c.filter(F.col("c_custkey") % 7 == 0).withColumn(
        "cents", F.col("cents") + 111
    )
    n_upd = upd.count()
    t.merge(upd)
    inst2 = export_hudi(t, dest, partition_by=["seg"])
    assert inst2 > inst1
    # carry-forward proof: the change feed is exactly the merged rows
    inc = read_hudi_incremental(spark, dest, begin=inst1)
    assert inc.count() == n_upd
    df = read_hudi(spark, dest, partitions="seg=BUILDING")
    dirs = {
        os.path.basename(os.path.dirname(p)) for p in df.inputFiles()
    }
    assert dirs == {"seg=BUILDING"}, dirs
    return df


@query(
    "s44_iceberg_v3_defaults",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c,
           'STD' AS tier
    FROM customer
    UNION ALL
    SELECT c_custkey + 4000000,
           CAST(floor(c_acctbal * 100) AS BIGINT),
           'NEW'
    FROM customer WHERE c_custkey % 10 = 0
    """,
)
def q_s44(spark, sf):
    """S44 — Iceberg v3 DEFAULT VALUES read (sources/iceberg.py
    ``_absent_field_expr``): a column added with ``initial-default``
    must read as THE DEFAULT for every row written before the column
    existed — NULL-filling a declared default is wrong the moment the
    default exists. The fixture exports the table (schema 0:
    ``c_custkey, bal_c``), then commits a v3-writer-shaped evolution
    adding ``tier string`` with ``initial-default: "STD"`` /
    ``write-default: "NEW"`` plus an append of files carrying explicit
    tier values, bumps the metadata to ``format-version: 3``, and
    stamps the ROW-LINEAGE metadata fields v3 writers emit
    (``next-row-id`` on the table, ``first-row-id`` on snapshots) —
    which this reader must TOLERATE, not trip on. Pre-addition files
    route through the vintage scan (the single-scan plan cannot apply
    defaults) and fill 'STD'; post-addition files read their real
    values. DuckDB recomputes both vintages with the default, so a
    reader that NULL-filled, applied write-default on read, or
    rejected the lineage fields breaks the hash."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.iceberg import (
        _metadata_path,
        commit_schema_evolution,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s44", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    new = c.filter(F.col("c_custkey") % 10 == 0).select(
        (F.col("c_custkey") + 4_000_000).alias("c_custkey"),
        "bal_c",
        F.lit("NEW").alias("tier"),  # the writer applied write-default
    )
    n_new = new.count()
    stage = os.path.join(t.root, "evo.stage")
    new.coalesce(1).write.parquet(stage)
    part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
    evo_file = os.path.join(t.root, "data-evo-0.parquet")
    shutil.move(part, evo_file)
    shutil.rmtree(stage)
    commit_schema_evolution(
        t.root,
        [
            {"id": 1, "name": "c_custkey", "type": "long"},
            {"id": 2, "name": "bal_c", "type": "long"},
            {"id": 3, "name": "tier", "type": "string",
             "initial-default": "STD", "write-default": "NEW"},
        ],
        added_files=[(evo_file, n_new)],
    )
    # v3-writer shape: format version 3 + the row-lineage fields this
    # reader must tolerate
    mp = _metadata_path(t.root)
    with open(mp) as f:
        meta = _json.load(f)
    meta["format-version"] = 3
    meta["next-row-id"] = 10_000
    for i, s in enumerate(meta.get("snapshots", [])):
        s["first-row-id"] = i * 5_000
    with open(mp, "w") as f:
        _json.dump(meta, f)
    out = read_iceberg(spark, t.root)
    # declared default, never NULL — and write-default never read-applied
    assert out.filter(F.col("tier").isNull()).count() == 0
    return out


@query(
    "s45_iceberg_row_lineage",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           CAST(100
                + CASE WHEN c_custkey % 2 = 0 THEN 0
                  ELSE (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
                  END
                + row_number() OVER (PARTITION BY c_custkey % 2
                                     ORDER BY c_custkey) - 1
                AS BIGINT) AS _row_id,
           CAST(1 AS BIGINT) AS _last_updated_sequence_number
    FROM customer
    """,
)
def q_s45(spark, sf):
    """S45 — Iceberg v3 ROW LINEAGE surfaced (sources/iceberg.py
    ``read_iceberg(row_lineage=True)``): every row gets ``_row_id``
    and ``_last_updated_sequence_number`` per the v3 spec —
    ``_row_id`` = the data file's ``first_row_id`` + the row's
    position, where the file's ``first_row_id`` is INHERITED (null on
    the ADDED entry, assigned from the manifest-list record's
    ``first_row_id`` plus the record counts of the previously-read
    null-frid files — the spec's assignment, exercised here, not just
    the explicit-value path); ``_last_updated_sequence_number`` = the
    file's data sequence. The fixture is a hand-built v3 table (the
    foreign-writer shape): two data files each written SORTED by
    ``c_custkey`` (one per ``c_custkey % 2`` class), one manifest
    whose list record carries ``first_row_id: 100``, snapshot
    ``first-row-id`` + table ``next-row-id`` stamped. DuckDB recomputes
    every row id from the sort order and class counts — an off-by-one
    in the inheritance accumulation, a swapped file order, or a
    mis-keyed per-file join breaks the row-level hash."""
    from .sources.iceberg import read_iceberg

    root = _table_root("s45", sf)
    build_row_lineage_iceberg_fixture(spark, sf, root)
    return read_iceberg(spark, root, row_lineage=True)


def build_row_lineage_iceberg_fixture(spark, sf: str, root: str) -> None:
    """Hand-built v3 row-lineage table for s45 + st23: one snapshot,
    two data files (one per ``c_custkey % 2`` class) each written
    SORTED by key, ``first_row_id`` left NULL on the entries so the
    reader must ASSIGN it by inheritance (manifest-list record
    ``first_row_id: 100`` + preceding record counts)."""
    import glob
    import json as _json
    import os
    import shutil
    import time

    from .sources.avro_ocf import write_avro
    from .sources.iceberg import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_FILE_SCHEMA,
    )

    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir, exist_ok=True)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )

    def put(df, rel):
        stage = os.path.join(root, ".stage")
        (
            df.coalesce(1)
            .sortWithinPartitions("c_custkey")
            .write.mode("overwrite")
            .parquet(stage)
        )
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(root, rel)
        shutil.move(src, dst)
        shutil.rmtree(stage)
        return dst

    counts = {}
    paths = {}
    for g in (0, 1):
        part = c.filter(F.col("c_custkey") % 2 == g)
        counts[g] = part.count()
        paths[g] = put(part, f"data-{g}.parquet")
    manifest = os.path.join(mdir, "manifest-1.avro")
    write_avro(
        manifest,
        MANIFEST_ENTRY_SCHEMA,
        [
            {
                "status": 1,
                "snapshot_id": 1,
                # first_row_id left NULL: the reader must ASSIGN it by
                # inheritance (manifest frid + preceding record counts)
                "data_file": {
                    "content": 0,
                    "file_path": paths[g],
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": counts[g],
                    "file_size_in_bytes": os.path.getsize(paths[g]),
                    "equality_ids": None,
                },
            }
            for g in (0, 1)
        ],
    )
    mlist = os.path.join(mdir, "snap-1.avro")
    write_avro(
        mlist,
        MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": manifest,
                "manifest_length": os.path.getsize(manifest),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": 1,
                "sequence_number": 1,
                "first_row_id": 100,
            }
        ],
    )
    meta = {
        "format-version": 3,
        "table-uuid": "s45-row-lineage",
        "location": root,
        "last-sequence-number": 1,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": 2,
        "next-row-id": 100 + counts[0] + counts[1],
        "row-lineage": True,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "c_custkey", "required": False,
                     "type": "long"},
                    {"id": 2, "name": "cents", "required": False,
                     "type": "long"},
                ],
            }
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": 1,
        "snapshots": [
            {
                "snapshot-id": 1,
                "timestamp-ms": 1000,
                "summary": {"operation": "append"},
                "manifest-list": mlist,
                "schema-id": 0,
                "first-row-id": 100,
            }
        ],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")


@query(
    "s46_delta_row_tracking",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           CAST(100
                + CASE WHEN c_custkey % 2 = 0 THEN 0
                  ELSE (SELECT count(*) FROM customer WHERE c_custkey % 2 = 0)
                  END
                + row_number() OVER (PARTITION BY c_custkey % 2
                                     ORDER BY c_custkey) - 1
                AS BIGINT) AS _row_id,
           CAST(CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS BIGINT)
             AS _row_commit_version
    FROM customer
    """,
)
def q_s46(spark, sf):
    """S46 — Delta ROW TRACKING surfaced (sources/delta.py
    ``read_delta(row_tracking=True)``, the ``rowTracking`` writer
    feature): every row gets ``_row_id`` = the add action's
    ``baseRowId`` + the row's position and ``_row_commit_version`` =
    ``defaultRowCommitVersion`` — Delta's row lineage, the
    cross-format twin of Iceberg v3's (s45). The fixture is a
    foreign-writer-shaped log: commit v0 declares the feature
    (``delta.enableRowTracking=true`` + materialized column names) and
    adds the ``c_custkey % 2 == 0`` file (baseRowId 100, version 0)
    written SORTED by key; v1 adds the odd-key file at the next row-id
    range (version 1). DuckDB recomputes every row id from sort order
    and class counts and every commit version from the class — a
    mis-keyed per-file stamp join, an off-by-one position, or a
    swapped file order breaks the row-level hash. (Materialized-column
    precedence — stored ids surviving a rewrite — is pinned by
    pytest.)"""
    from .sources.delta import read_delta

    root = _table_root("s46", sf)
    build_row_tracking_delta_fixture(spark, sf, root)
    return read_delta(spark, root, row_tracking=True)


def build_row_tracking_delta_fixture(spark, sf: str, root: str) -> None:
    """Foreign-writer-shaped Delta row-tracking log for s46 + st24:
    commit v0 declares ``delta.enableRowTracking`` + materialized
    column names and adds the even-key file (baseRowId 100, version
    0), v1 adds the odd-key file at the next row-id range (version 1);
    both files written SORTED by key."""
    import glob
    import json as _json
    import os
    import shutil

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )

    def put(df, rel):
        stage = os.path.join(root, ".stage")
        (
            df.coalesce(1)
            .sortWithinPartitions("c_custkey")
            .write.mode("overwrite")
            .parquet(stage)
        )
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        shutil.rmtree(stage)

    counts = {}
    for g in (0, 1):
        part = c.filter(F.col("c_custkey") % 2 == g)
        counts[g] = part.count()
        put(part, f"data-{g}.parquet")
    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    meta_action = {
        "metaData": {
            "id": "s46",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {
                    "type": "struct",
                    "fields": [
                        {"name": "c_custkey", "type": "long",
                         "nullable": True, "metadata": {}},
                        {"name": "cents", "type": "long",
                         "nullable": True, "metadata": {}},
                    ],
                }
            ),
            "partitionColumns": [],
            "configuration": {
                "delta.enableRowTracking": "true",
                "delta.rowTracking.materializedRowIdColumnName":
                    "_row_id_mat_s46",
                "delta.rowTracking.materializedRowCommitVersionColumnName":
                    "_row_ver_mat_s46",
            },
        }
    }
    commits = [
        [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 7,
                          "writerFeatures": ["rowTracking", "domainMetadata"]}},
            meta_action,
            {"add": {"path": "data-0.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "baseRowId": 100, "defaultRowCommitVersion": 0}},
        ],
        [
            {"add": {"path": "data-1.parquet", "partitionValues": {},
                     "size": 1, "modificationTime": 0, "dataChange": True,
                     "baseRowId": 100 + counts[0],
                     "defaultRowCommitVersion": 1}},
        ],
    ]
    for v, actions in enumerate(commits):
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")


@query(
    "s47_iceberg_changelog",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _change_ordinal,
           CAST(1 AS BIGINT) AS _commit_snapshot_id
    FROM customer
    UNION ALL
    SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT),
           'delete', 1, 2
    FROM customer WHERE c_custkey % 2 = 1
    UNION ALL
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_custkey % 10 = 1 THEN 555 ELSE 0 END,
           'insert', 1, 2
    FROM customer WHERE c_custkey % 2 = 1
    """,
)
def q_s47(spark, sf):
    """S47 — Iceberg CHANGELOG scan (sources/iceberg.py
    ``read_iceberg_changelog``): row-level inserts AND deletes — the
    official ``table_changes`` shape that, unlike the incremental
    APPEND scan (s33), also represents OVERWRITE snapshots. The
    fixture is a hand-built two-snapshot table: snapshot 1 appends the
    even-key and odd-key files; snapshot 2 is a copy-on-write
    OVERWRITE replacing the odd-key file with a rewrite (+555 cents
    for ``%10 == 1`` keys, the rest carried). The changelog must emit
    snapshot 1's rows as ordinal-0 inserts, then the REPLACED file's
    rows as ordinal-1 deletes plus the rewrite's rows as ordinal-1
    inserts — carried rows appear as delete+insert pairs, exactly the
    official changelog's file-diff semantics. DuckDB recomputes the
    whole feed; a leaked unchanged file, a missed delete, or a
    mis-stamped ordinal breaks the hash. Plan posture: one scan over
    the window's files, stamps attached by ONE broadcast join (the
    replaced file fans out to its delete rows from the same scan)."""
    from .sources.iceberg import read_iceberg_changelog

    root = _table_root("s47", sf)
    build_changelog_iceberg_fixture(spark, sf, root)
    return read_iceberg_changelog(spark, root)


def build_changelog_iceberg_fixture(spark, sf: str, root: str) -> None:
    """Two-snapshot Iceberg table for the changelog readers (s47 +
    st21): snapshot 1 appends the even-key and odd-key customer files;
    snapshot 2 is a copy-on-write OVERWRITE replacing the odd-key file
    with a rewrite (+555 cents for %10 == 1 keys, the rest carried)."""
    import glob
    import json as _json
    import os
    import shutil
    import time

    from .sources.avro_ocf import write_avro
    from .sources.iceberg import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_FILE_SCHEMA,
    )

    mdir = os.path.join(root, "metadata")
    os.makedirs(mdir, exist_ok=True)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )

    def put(df, rel):
        stage = os.path.join(root, ".stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(root, rel)
        shutil.move(src, dst)
        shutil.rmtree(stage)
        return dst

    even = c.filter(F.col("c_custkey") % 2 == 0)
    odd = c.filter(F.col("c_custkey") % 2 == 1)
    rewrite = odd.withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("c_custkey") % 10 == 1, 555).otherwise(0),
    )
    fa = put(even, "data-a.parquet")
    fb = put(odd, "data-b.parquet")
    fb2 = put(rewrite, "data-b2.parquet")
    counts = {p: n for p, n in (
        (fa, even.count()), (fb, odd.count()), (fb2, odd.count()),
    )}

    def entry(path, status, sid):
        return {
            "status": status,
            "snapshot_id": sid,
            "data_file": {
                "content": 0,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": counts[path],
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": None,
            },
        }

    m1 = os.path.join(mdir, "manifest-1.avro")
    write_avro(
        m1, MANIFEST_ENTRY_SCHEMA,
        [entry(fa, 1, 1), entry(fb, 1, 1)],
    )
    # snapshot 2: copy-on-write overwrite — fa carried (EXISTING),
    # fb tombstoned, fb2 added
    m2 = os.path.join(mdir, "manifest-2.avro")
    write_avro(
        m2, MANIFEST_ENTRY_SCHEMA,
        [entry(fa, 0, 1), entry(fb, 2, 2), entry(fb2, 1, 2)],
    )

    def mlist(name, manifests, sid):
        p = os.path.join(mdir, name)
        write_avro(
            p, MANIFEST_FILE_SCHEMA,
            [
                {
                    "manifest_path": mp,
                    "manifest_length": os.path.getsize(mp),
                    "partition_spec_id": 0,
                    "content": 0,
                    "added_snapshot_id": sid,
                    "sequence_number": sid,
                }
                for mp in manifests
            ],
        )
        return p

    ml1 = mlist("snap-1.avro", [m1], 1)
    ml2 = mlist("snap-2.avro", [m2], 2)
    meta = {
        "format-version": 2,
        "table-uuid": "s47-changelog",
        "location": root,
        "last-sequence-number": 2,
        "last-updated-ms": int(time.time() * 1000),
        "last-column-id": 2,
        "schemas": [
            {"type": "struct", "schema-id": 0, "fields": [
                {"id": 1, "name": "c_custkey", "required": False,
                 "type": "long"},
                {"id": 2, "name": "cents", "required": False,
                 "type": "long"},
            ]}
        ],
        "current-schema-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "default-spec-id": 0,
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1000,
             "summary": {"operation": "append"},
             "manifest-list": ml1, "schema-id": 0},
            {"snapshot-id": 2, "timestamp-ms": 2000,
             "summary": {"operation": "overwrite"},
             "manifest-list": ml2, "schema-id": 0},
        ],
    }
    with open(os.path.join(mdir, "v1.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write("1")


@query(
    "s48_csv_roundtrip",
    oracle="""
    SELECT c_mktsegment AS seg,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS cents,
           CAST(sum(CASE WHEN c_custkey % 50 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS null_notes,
           CAST(sum(CASE WHEN c_custkey % 50 <> 0
                    THEN length(c_name || ', "' || c_mktsegment || '"')
                    ELSE 0 END) AS BIGINT) AS note_len
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_s48(spark, sf):
    """S48 — the CSV SINK + schema-on-read SOURCE round trip
    (sources/io.py ``write_csv``/``read_csv``, the S5 parity surface —
    previously the one component without a hash-gated oracle entry):
    customers write to a distributed headered CSV (a synthesized note
    column embeds commas AND double quotes, exercising the
    quote-and-escape path; a planted NULL per 50 keys exercises
    empty-field round-tripping), read back
    with an EXPLICIT DDL schema (no inference pass), and aggregate per
    segment with a null-count column. DuckDB recomputes from the base
    parquet, so a quoting bug, a type mis-read, or a NULL that came
    back as an empty string breaks the hash."""
    import os

    from .sources.io import read_csv, write_csv

    root = _table_root("s48", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        # NULLs must survive the sink (empty field, not the string '');
        # the note embeds commas + quotes to exercise CSV escaping
        F.when(F.col("c_custkey") % 50 == 0, F.lit(None)).otherwise(
            F.concat(
                F.col("c_name"), F.lit(', "'),
                F.col("c_mktsegment"), F.lit('"'),
            )
        ).alias("note"),
    )
    dest = os.path.join(root, "csv_out")
    write_csv(c, dest)
    back = read_csv(
        spark, dest,
        schema="c_custkey bigint, seg string, cents bigint, note string",
    )
    return back.groupBy("seg").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("cents"),
        F.sum(
            F.when(F.col("note").isNull(), 1).otherwise(0)
        ).cast("long").alias("null_notes"),
        F.sum(
            F.coalesce(F.length("note"), F.lit(0))
        ).cast("long").alias("note_len"),
    )


@query(
    "s39_delta_type_widening",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
    FROM customer
    UNION ALL
    SELECT c_custkey + 7000000,
           CAST(floor(c_acctbal * 100) AS BIGINT) + 5000000000
    FROM customer WHERE c_custkey % 9 = 0
    """,
)
def q_s39(spark, sf):
    """S39 — Delta TYPE WIDENING read (sources/delta.py
    ``_check_type_widening`` + the native parquet upcast): the 4.x
    ``typeWidening`` reader feature, where an ``ALTER TABLE`` widened
    a column (here ``bal_c`` int -> long) and PRE-WIDENING files keep
    their NARROW physical type forever. The fixture commits v0 with an
    int schema and an int32-physical file of every customer, then v1
    with the widened schema carrying the feature's
    ``delta.typeChanges`` history plus an int64-physical file whose
    values exceed int range (so a reader that kept reading int32
    overflows and a reader that dropped old files loses rows). The
    read validates each recorded change is a LEGAL widening (a
    narrowing would silently truncate through the native upcast —
    it raises instead) and plans ONE scan over both physical types.
    DuckDB recomputes both vintages; the in-entry assert pins the
    single-scan plan."""
    import glob
    import json as _json
    import os
    import shutil

    from .sources.delta import read_delta

    root = _table_root("s39", sf)
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("int").alias("bal_c"),
    )

    def put(df, rel):
        stage = os.path.join(root, ".stage")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        src = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dst = os.path.join(root, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.move(src, dst)
        shutil.rmtree(stage)

    put(c, "old-int32.parquet")
    widened = c.filter(F.col("c_custkey") % 9 == 0).select(
        (F.col("c_custkey") + 7_000_000).alias("c_custkey"),
        (F.col("bal_c").cast("long") + 5_000_000_000).alias("bal_c"),
    )
    put(widened, "new-int64.parquet")

    def meta(bal_type, metadata):
        return {
            "metaData": {
                "id": "s39",
                "format": {"provider": "parquet", "options": {}},
                "schemaString": _json.dumps(
                    {
                        "type": "struct",
                        "fields": [
                            {"name": "c_custkey", "type": "long",
                             "nullable": True, "metadata": {}},
                            {"name": "bal_c", "type": bal_type,
                             "nullable": True, "metadata": metadata},
                        ],
                    }
                ),
                "partitionColumns": [],
                "configuration": {},
            }
        }

    log = os.path.join(root, "_delta_log")
    os.makedirs(log, exist_ok=True)
    commits = [
        (
            0,
            [
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                              "readerFeatures": ["typeWidening"],
                              "writerFeatures": ["typeWidening"]}},
                meta("integer", {}),
                {"add": {"path": "old-int32.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 0,
                         "dataChange": True}},
            ],
        ),
        (
            1,
            [
                meta("long", {"delta.typeChanges": [
                    {"fromType": "integer", "toType": "long",
                     "tableVersion": 1}]}),
                {"add": {"path": "new-int64.parquet", "partitionValues": {},
                         "size": 1, "modificationTime": 1,
                         "dataChange": True}},
            ],
        ),
    ]
    for v, actions in commits:
        with open(os.path.join(log, f"{v:020d}.json"), "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")
    df = read_delta(spark, root)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan[:1200]
    return df


@query(
    "s40_hudi_export",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_custkey % 17 = 0 THEN 1000 ELSE 0 END AS bal_c
    FROM customer
    UNION ALL
    SELECT c_custkey + 8000000, 77
    FROM customer WHERE c_custkey % 31 = 0
    """,
)
def q_s40(spark, sf):
    """S40 — Hudi EXPORT roundtrip (sources/hudi_export.py
    ``export_hudi``): a SnapshotTable published as a real COPY_ON_WRITE
    Hudi table — meta columns written INTO the data files, one file
    group per bucket, writer-shaped names and completed-instant
    markers — then MERGED (updates + inserts) and re-exported
    INCREMENTALLY: only touched buckets rewrite, and carried-forward
    rows keep their ORIGINAL per-row ``_hoodie_commit_time`` (what a
    real COW upsert produces), so the in-entry asserts pin that
    ``read_hudi_incremental`` after the second export emits EXACTLY
    the merge's net rows — a full-table re-stamp or a lost carry
    breaks them, and DuckDB's recompute of the final merged state
    breaks the row-level hash on any snapshot error."""
    from .sources.hudi import read_hudi, read_hudi_incremental
    from .sources.hudi_export import export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s40", sf),
        "c_custkey bigint, bal_c bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    dest = _table_root("s40_hudi", sf)
    i1 = export_hudi(t, dest)
    upd = c.filter(F.col("c_custkey") % 17 == 0).select(
        "c_custkey", (F.col("bal_c") + 1000).alias("bal_c")
    )
    ins = c.filter(F.col("c_custkey") % 31 == 0).select(
        (F.col("c_custkey") + 8_000_000).alias("c_custkey"),
        F.lit(77).cast("long").alias("bal_c"),
    )
    t.merge(upd.unionByName(ins))
    i2 = export_hudi(t, dest)
    assert i2 > i1
    # true net changes only: the incremental query returns exactly the
    # merge's rows (carried rows kept their first-export instant)
    inc = read_hudi_incremental(spark, dest, begin=i1)
    expected = upd.unionByName(ins)
    # symmetric multiset equality in ONE job (two exceptAll counts
    # would schedule two)
    assert inc.exceptAll(expected).unionAll(
        expected.exceptAll(inc)
    ).isEmpty()
    # pre-merge time travel sees the original state
    assert read_hudi(spark, dest, as_of=i1).count() == c.count()
    return read_hudi(spark, dest)


@query(
    "s49_iceberg_changelog_dv_replay",
    oracle="""
    WITH odd AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_custkey % 2 = 1
    ),
    even AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_custkey % 2 = 0
    ),
    b2 AS (
      SELECT k,
             cents + CASE WHEN k % 10 = 1 THEN 555 ELSE 0 END AS cents
      FROM odd
    )
    SELECT k AS c_custkey, cents, 'insert' AS _change_type,
           CAST(0 AS BIGINT) AS _change_ordinal,
           CAST(1 AS BIGINT) AS _commit_snapshot_id
    FROM even
    UNION ALL SELECT k, cents, 'insert', 0, 1 FROM odd
    UNION ALL SELECT k, cents, 'delete', 1, 2 FROM odd
    UNION ALL SELECT k, cents, 'insert', 1, 2 FROM b2
    UNION ALL SELECT k, cents, 'delete', 2, 3 FROM b2 WHERE k % 10 = 7
    UNION ALL SELECT k, cents, 'delete', 3, 4 FROM b2 WHERE k % 10 <> 7
    UNION ALL
    SELECT k, cents + CASE WHEN k % 10 = 3 THEN 1000 ELSE 0 END,
           'insert', 3, 4
    FROM b2 WHERE k % 10 <> 7
    """,
)
def q_s49(spark, sf):
    """S49 — Iceberg changelog with ROW-LEVEL DELETE REPLAY
    (sources/iceberg.py ``read_iceberg_changelog``), past the official
    runtime's gate (it refuses any window with live delete files; this
    reader already decodes all three kinds, so it replays them): on
    top of the s47 fixture (snapshot 1 appends even+odd, snapshot 2
    copy-on-write OVERWRITES the odd file), snapshot 3 commits a v3
    DELETION VECTOR striking the rewrite's ``%10 == 7`` rows and
    snapshot 4 overwrites the DV-carrying file with a compaction
    (struck rows dropped, ``%10 == 3`` bumped +1000). The feed must
    emit the struck rows as ordinal-2 deletes, then ordinal-3's
    delete+insert pairs for the LIVE rows only — a reader without
    replay would resurrect the ``%10 == 7`` rows as spurious deletes
    at ordinal 3. Windows that open after the strike stay silent about
    it (in-entry assert). DuckDB recomputes the whole five-way feed.
    Plan posture: one scan over the window's files, liveness per
    boundary as boolean algebra over a broadcast live-flag array + ONE
    broadcast (file, pos) strike join (DV decoded on executors), the
    change rows from a single array_compact + explode — no shuffle."""
    from .sources.iceberg import read_iceberg_changelog

    root = _table_root("s49", sf)
    build_dv_changelog_iceberg_fixture(spark, sf, root)
    # a window opened AFTER the strike never resurrects struck rows
    tail = read_iceberg_changelog(spark, root, from_snapshot_id=3)
    assert tail.filter(
        (F.col("c_custkey") % 10 == 7) & (F.col("c_custkey") % 2 == 1)
    ).count() == 0
    return read_iceberg_changelog(spark, root)


def build_dv_changelog_iceberg_fixture(spark, sf: str, root: str) -> None:
    """s47's two-snapshot changelog fixture extended with delete
    replay shapes: snapshot 3 = a v3 DELETION VECTOR striking the
    rewrite file's ``%10 == 7`` rows (positions computed from the
    file's actual row order); snapshot 4 = a copy-on-write compaction
    replacing the DV-carrying file with its live rows only
    (``%10 == 3`` bumped +1000), dropping the vector with the file."""
    import glob
    import json as _json
    import os
    import shutil
    import time

    import pyarrow.parquet as _pq

    from .sources.avro_ocf import write_avro
    from .sources.iceberg import (
        MANIFEST_ENTRY_SCHEMA,
        MANIFEST_FILE_SCHEMA,
        _metadata_path,
        append_deletion_vectors,
    )

    build_changelog_iceberg_fixture(spark, sf, root)
    fb2 = os.path.join(root, "data-b2.parquet")
    keys = _pq.read_table(fb2, columns=["c_custkey"]).column(
        "c_custkey"
    ).to_pylist()
    struck = [i for i, k in enumerate(keys) if k % 10 == 7]
    assert append_deletion_vectors(root, {fb2: struck}) == 3
    # snapshot 4: compaction overwrite — fb2 (and its vector) replaced
    # by the live rows, %10 == 3 bumped
    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    b3 = c.filter(
        (F.col("c_custkey") % 2 == 1) & (F.col("c_custkey") % 10 != 7)
    ).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("c_custkey") % 10 == 1, 555).otherwise(0)
        + F.when(F.col("c_custkey") % 10 == 3, 1000).otherwise(0),
    )
    n_b3 = b3.count()
    stage = os.path.join(root, ".stage_b3")
    b3.coalesce(1).write.parquet(stage)
    fb3 = os.path.join(root, "data-b3.parquet")
    shutil.move(glob.glob(os.path.join(stage, "part-*.parquet"))[0], fb3)
    shutil.rmtree(stage)
    mdir = os.path.join(root, "metadata")
    fa = os.path.join(root, "data-a.parquet")

    def entry(path, status, sid, n):
        return {
            "status": status,
            "snapshot_id": sid,
            "data_file": {
                "content": 0,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": n,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": None,
            },
        }

    n_fa = _pq.read_metadata(fa).num_rows
    m4 = os.path.join(mdir, "manifest-4.avro")
    write_avro(
        m4, MANIFEST_ENTRY_SCHEMA,
        [
            entry(fa, 0, 1, n_fa),
            entry(fb2, 2, 4, len(keys)),
            entry(fb3, 1, 4, n_b3),
        ],
    )
    ml4 = os.path.join(mdir, "snap-4.avro")
    write_avro(
        ml4, MANIFEST_FILE_SCHEMA,
        [
            {
                "manifest_path": m4,
                "manifest_length": os.path.getsize(m4),
                "partition_spec_id": 0,
                "content": 0,
                "added_snapshot_id": 4,
                "sequence_number": 4,
            }
        ],
    )
    mp = _metadata_path(root)
    with open(mp) as f:
        meta = _json.load(f)
    meta["snapshots"].append(
        {"snapshot-id": 4, "timestamp-ms": int(time.time() * 1000),
         "summary": {"operation": "overwrite"},
         "manifest-list": ml4, "schema-id": 0}
    )
    meta["current-snapshot-id"] = 4
    meta["last-sequence-number"] = 4
    with open(os.path.join(mdir, "version-hint.text")) as f:
        hint = int(f.read().strip())
    with open(os.path.join(mdir, f"v{hint + 1}.metadata.json"), "w") as f:
        _json.dump(meta, f)
    with open(os.path.join(mdir, "version-hint.text"), "w") as f:
        f.write(str(hint + 1))


@query(
    "s50_delta_export_cdf",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey, cents, 'delete' AS _change_type,
           CAST(1 AS BIGINT) AS _commit_version
    FROM base WHERE k % 13 = 0
    UNION ALL
    SELECT k, cents, 'update_preimage', 1
    FROM base WHERE k % 11 = 0 AND k % 13 <> 0
    UNION ALL
    SELECT k, cents + 10000, 'update_postimage', 1
    FROM base WHERE k % 11 = 0 AND k % 13 <> 0
    UNION ALL
    SELECT k + 7000000, cents, 'insert', 1
    FROM base WHERE k % 50 = 0 AND (k + 7000000) % 13 <> 0
    """,
)
def q_s50(spark, sf):
    """S50 — CDF-CORRECT Delta export (sources/delta.py
    ``_export_change_data``): a MERGE-shaped export commit (adds AND
    removes) now writes real ``_change_data/`` files + ``cdc`` actions
    with EXACT images — previously a foreign CDF reader of an exported
    merge saw derived delete+insert pairs for every row of every
    rewritten file, inventing changes for carried rows. The fixture
    exports v0, then merges (+10000 cents for ``%11`` keys, brand-new
    ``+7M`` keys for ``%50``) and deletes (``%13`` keys) before the
    second export; the exporter full-outer-joins the touched buckets'
    old vs new rows on the bucket key, so the commit's change files
    hold update_preimage/update_postimage pairs, inserts, and deletes
    — and CARRIED ROWS CANCEL (the old derivation's failure mode).
    The returned frame reads the feed back through
    ``read_delta_changes`` exactly as delta-spark's table_changes
    would; DuckDB recomputes the expected net images per key class, so
    a leaked carried row, a swapped pre/post image, or a lost delete
    breaks the row-level hash. In-entry asserts pin the foreign shape:
    the commit carries ``cdc`` actions and declares
    ``delta.enableChangeDataFeed`` from v0."""
    import json as _json
    import os

    from .sources.delta import export_delta_log, read_delta_changes
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s50", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_delta_log(t) == 0
    upd = c.filter(F.col("c_custkey") % 11 == 0).withColumn(
        "cents", F.col("cents") + 10000
    )
    ins = c.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 7_000_000).alias("c_custkey"), "cents"
    )
    t.merge(upd.unionByName(ins))
    t.delete(F.col("c_custkey") % 13 == 0)
    assert export_delta_log(t) == 1
    with open(os.path.join(t.root, "_delta_log", f"{1:020d}.json")) as f:
        acts = [_json.loads(ln) for ln in f if ln.strip()]
    assert any("cdc" in a for a in acts), "merge commit must carry cdc"
    with open(os.path.join(t.root, "_delta_log", f"{0:020d}.json")) as f:
        v0 = [_json.loads(ln) for ln in f if ln.strip()]
    conf = next(a for a in v0 if "metaData" in a)["metaData"]["configuration"]
    assert conf.get("delta.enableChangeDataFeed") == "true"
    return read_delta_changes(spark, t.root, starting_version=1)


@query(
    "s51_hudi_mor_export",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END AS cents
    FROM base WHERE k % 23 <> 0
    UNION ALL
    SELECT k + 8000000, cents
    FROM base WHERE k % 40 = 0 AND (k + 8000000) % 23 <> 0
    """,
)
def q_s51(spark, sf):
    """S51 — MERGE_ON_READ Hudi export (sources/hudi_export.py
    ``export_hudi(table_type="MERGE_ON_READ")``): incremental
    publishes append LOG FILES instead of rewriting buckets — the
    first export writes base files under a ``deltacommit``, and the
    second computes each touched group's per-key diff against the
    published state (read through the same ``_read_mor`` fold every
    reader uses) and appends ONE log file per group via the
    sources/hudi_log.py codec: an AVRO upsert block for new/changed
    keys (merge +333 cents on ``%9``, brand-new ``+8M`` keys on
    ``%40``) and a DELETE block for gone keys (``%23`` deleted). Write
    amplification is the CHANGE SIZE: the in-entry asserts pin that
    the delta export created ZERO new base parquet files (log appends
    only) and that the incremental feed is exactly the net changed
    rows. The returned frame snapshot-reads the published table back
    through the MOR base+log merge; DuckDB recomputes the final state,
    so a dropped delete tombstone, a stale upsert, or a leaked
    superseded row breaks the row-level hash."""
    import glob
    import os

    from .sources.hudi import read_hudi, read_hudi_incremental
    from .sources.hudi_export import export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s51", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    n_base = len(glob.glob(os.path.join(dest, "*.parquet")))
    upd = c.filter(F.col("c_custkey") % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    )
    ins = c.filter(F.col("c_custkey") % 40 == 0).select(
        (F.col("c_custkey") + 8_000_000).alias("c_custkey"), "cents"
    )
    t.merge(upd.unionByName(ins))
    t.delete(F.col("c_custkey") % 23 == 0)
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert i2 > i1
    # delta-sized write amplification: ZERO new base files, logs only
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == n_base
    assert [f for f in os.listdir(dest) if ".log." in f]
    # the incremental feed is exactly the net upserts (new + changed)
    n_changed = (
        upd.filter(F.col("c_custkey") % 23 != 0)
        .unionByName(ins.filter(F.col("c_custkey") % 23 != 0))
        .count()
    )
    inc = read_hudi_incremental(spark, dest, begin=i1)
    assert inc.count() == n_changed, (inc.count(), n_changed)
    return read_hudi(spark, dest)


@query(
    "s52_hudi_mor_compaction",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END
                 + CASE WHEN k % 31 = 1 THEN 777 ELSE 0 END AS cents
    FROM base WHERE k % 23 <> 0
    UNION ALL
    SELECT k + 8000000, cents
    FROM base WHERE k % 40 = 0 AND (k + 8000000) % 23 <> 0
    """,
)
def q_s52(spark, sf):
    """S52 — Hudi MOR COMPACTION (sources/hudi_export.py
    ``compact_hudi``): the maintenance action that bounds a MOR
    table's read amplification — every LOGGED file group's base+log
    fold (the same ``_read_mor`` merge every reader performs) is
    rewritten as a NEW base file at the next instant, committed as a
    ``.commit`` (Hudi's compaction action), making the old slice's
    log files stale by the slice rules while per-row
    ``_hoodie_commit_time`` is PRESERVED — so incremental/streaming
    consumers see ZERO phantom changes from a compaction (in-entry
    assert: the feed from the compaction instant holds exactly the
    post-compaction merge's rows, nothing the compaction rewrote).
    Full lifecycle exercised: export MOR -> merge+delete as LOG
    APPENDS -> compact -> another merge appending logs to the
    COMPACTED slice; the returned frame snapshot-reads the final
    state, which DuckDB recomputes — a fold that dropped a tombstone
    at compaction, re-stamped a carried row, or let a stale log
    re-apply over the new base breaks the row-level hash."""
    import glob
    import os

    from .sources.hudi import read_hudi, read_hudi_incremental
    from .sources.hudi_export import compact_hudi, export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s52", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    upd = c.filter(F.col("c_custkey") % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    )
    ins = c.filter(F.col("c_custkey") % 40 == 0).select(
        (F.col("c_custkey") + 8_000_000).alias("c_custkey"), "cents"
    )
    t.merge(upd.unionByName(ins))
    t.delete(F.col("c_custkey") % 23 == 0)
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    ci = compact_hudi(spark, dest)
    assert ci is not None and ci > i2
    assert glob.glob(os.path.join(dest, f"*_{ci}.parquet"))
    # post-compaction merge: logs append to the COMPACTED slice
    upd2 = t.read().filter(
        (F.col("c_custkey") % 31 == 1) & (F.col("c_custkey") < 8_000_000)
    ).withColumn("cents", F.col("cents") + 777)
    n2 = upd2.count()
    t.merge(upd2)
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    # compaction emitted ZERO phantom changes: the feed from its
    # instant is exactly the later merge's rows
    assert read_hudi_incremental(spark, dest, begin=ci).count() == n2
    return read_hudi(spark, dest)

@query(
    "s53_hudi_mor_partitioned",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           CASE WHEN k % 9 = 0 THEN 'MOVED' ELSE seg END AS seg,
           cents + CASE WHEN k % 9 = 0 THEN 333
                        WHEN k % 31 = 1 THEN 777
                        ELSE 0 END AS cents
    FROM base WHERE k % 23 <> 0
    """,
)
def q_s53(spark, sf):
    """S53 — PARTITIONED MERGE_ON_READ Hudi export
    (sources/hudi_export.py ``export_hudi(partition_by=...,
    table_type="MERGE_ON_READ")``): group identity is (partition,
    fileId), and the incremental publish stays a LOG APPEND per
    touched group — an in-place update logs an upsert in its own
    partition, a key whose partition value CHANGED (``%9`` keys move
    to the brand-new ``seg=MOVED`` partition) logs a DELETE tombstone
    in its old group plus an upsert in the new one (the two records a
    real global-index MOR writer emits for a partition-path change),
    the new partition starts as a LOG-ONLY file group (no base file
    until compaction), and deleted keys (``%23``) log tombstones. The
    in-entry asserts pin ZERO new base parquet files after the delta
    export and that partition pruning serves the moved keys from
    ``seg=MOVED`` alone. The returned frame snapshot-reads the
    published table back through the group-local base+log merge;
    DuckDB recomputes the final state, so a stale row surviving in
    the old partition, a lost move, or a tombstone applied in the
    wrong group breaks the row-level hash."""
    import glob
    import os

    from .sources.hudi import read_hudi
    from .sources.hudi_export import export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s53", sf),
        "c_custkey bigint, seg string, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_mor_part")
    i1 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    n_base = len(glob.glob(os.path.join(dest, "**", "*.parquet"),
                           recursive=True))
    # %9 keys MOVE to the new seg=MOVED partition (+333); %31==1 keys
    # update in place (+777); %9 wins where both apply — the same
    # precedence the oracle CASE encodes
    k = F.col("c_custkey")
    upd = c.filter((k % 9 == 0) | (k % 31 == 1)).select(
        "c_custkey",
        F.when(k % 9 == 0, F.lit("MOVED")).otherwise(F.col("seg")).alias("seg"),
        (F.col("cents") + F.when(k % 9 == 0, 333).otherwise(777)).alias("cents"),
    )
    t.merge(upd)
    t.delete(k % 23 == 0)
    i2 = export_hudi(t, dest, partition_by=["seg"],
                     table_type="MERGE_ON_READ")
    assert i2 > i1
    # delta-sized write amplification: ZERO new base files, logs only
    assert len(glob.glob(os.path.join(dest, "**", "*.parquet"),
                         recursive=True)) == n_base
    moved_files = os.listdir(os.path.join(dest, "seg=MOVED"))
    assert moved_files and all(".log." in f for f in moved_files)
    # partition pruning serves the moved keys from their new group
    n_moved = read_hudi(spark, dest, partitions="seg=MOVED").count()
    assert n_moved == c.filter((k % 9 == 0) & (k % 23 != 0)).count()
    return read_hudi(spark, dest)

@query(
    "s54_iceberg_nested_eq_delete",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k, c_mktsegment AS seg,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey, seg, cents
    FROM base
    WHERE seg <> 'BUILDING' AND k % 31 <> 0
    """,
)
def q_s54(spark, sf):
    """S54 — NESTED equality deletes (sources/iceberg.py
    ``_eq_field_paths`` / ``_eq_read_schema``): the spec allows
    equality ids on any primitive field not under a repeated or map
    type — including fields INSIDE structs — and this read resolves
    ids to dotted paths through struct nesting and compares at the
    leaf (the official Java runtime reads these; many engines gate
    them). The fixture exports ``profile struct<seg, cents>``, then
    appends TWO foreign equality-delete snapshots: one keyed on the
    nested ``profile.seg`` alone (kills the whole BUILDING segment),
    one keyed on a MIXED (top-level ``c_custkey``, nested
    ``profile.cents``) id pair (kills exact ``%31`` key+cents pairs —
    a matching key with different cents must survive). Both delete
    files are REAL nested parquet (struct shells pinned in-entry by
    footer schema), applied as one broadcast null-safe LEFT ANTI-join
    each. DuckDB recomputes the survivors; matching the wrong leaf,
    flattening by name instead of field id, or dropping the
    struct-shell read breaks the row-level hash."""
    import pyarrow.parquet as _pq

    from .sources.iceberg import (
        append_equality_deletes,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.struct(
            F.col("c_mktsegment").alias("seg"),
            F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
        ).alias("profile"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s54", sf),
        "c_custkey bigint, profile struct<seg:string,cents:bigint>",
        bucket_key=["c_custkey"],
        num_buckets=8,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    append_equality_deletes(
        t.root, [{"profile.seg": "BUILDING"}], ["profile.seg"]
    )
    doomed = [
        {"c_custkey": r["c_custkey"], "profile.cents": r["cents"]}
        for r in c.filter(F.col("c_custkey") % 31 == 0)
        .select("c_custkey", F.col("profile.cents").alias("cents"))
        .collect()
    ]
    assert doomed
    append_equality_deletes(
        t.root, doomed, ["c_custkey", "profile.cents"]
    )
    # the delete files are REAL nested parquet: struct shells in the
    # footer, not name-mangled flat columns
    import glob as _glob
    import os as _os

    dfiles = sorted(
        _glob.glob(_os.path.join(t.root, "metadata", "eq-delete-*.parquet"))
    )
    assert len(dfiles) == 2
    sch = _pq.ParquetFile(dfiles[0]).schema_arrow
    assert sch.field("profile").type.num_fields == 1
    # pre-delete time travel unaffected
    assert read_iceberg(spark, t.root, snapshot_id=1).count() == c.count()
    return read_iceberg(spark, t.root).select(
        "c_custkey",
        F.col("profile.seg").alias("seg"),
        F.col("profile.cents").alias("cents"),
    )

@query(
    "s55_iceberg_export_bounds",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    WHERE c_custkey >
          CAST(floor(3 * (SELECT count(*) FROM customer) / 4.0) AS BIGINT)
    """,
)
def q_s55(spark, sf):
    """S55 — COLUMN BOUNDS on Iceberg export (sources/iceberg.py
    ``export_iceberg`` + ``encode_bound``): tables created with
    ``stats_cols`` publish per-file ``lower_bounds``/``upper_bounds``
    (spec Appendix D single-value binaries keyed by FIELD ID) in every
    added manifest entry, at zero extra I/O — the ranges already live
    in the SnapshotTable commit log's harvested footer stats. That
    makes the exported table DATA-SKIPPABLE: ``read_iceberg(
    predicates=)`` (and any real Iceberg engine) prunes files whose
    published range provably excludes every matching row, decided from
    driver-side manifest metadata before Spark plans a task. The
    fixture appends customers in FOUR key-range slices (8 files across
    2 buckets), exports, and reads back with ``c_custkey > 3N/4`` —
    the in-entry assert pins that EXACTLY the top slice's 2 files are
    planned (6 of 8 pruned). DuckDB recomputes the predicate directly;
    an encoder whose byte order or epoch math disagreed with the
    Appendix D decode would either over-prune (hash break: missing
    rows) or never prune (assert break)."""
    import os

    from .sources.iceberg import export_iceberg, read_iceberg
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    n = c.count()
    t = SnapshotTable.create(
        spark,
        _table_root("s55", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=2,
        stats_cols=["c_custkey"],
    )
    # four key-range slices: each append's files carry disjoint
    # c_custkey bounds, so a range predicate prunes whole appends
    bounds = [0, n // 4, n // 2, 3 * n // 4, n]
    for lo, hi in zip(bounds, bounds[1:]):
        t.append(
            c.filter((F.col("c_custkey") > lo) & (F.col("c_custkey") <= hi))
        )
    assert export_iceberg(t) == 1
    cut = 3 * n // 4
    df = read_iceberg(spark, t.root, predicates=[("c_custkey", ">", cut)])
    planned = df.inputFiles()
    assert len(planned) == 2, (len(planned), planned)
    total = read_iceberg(spark, t.root).inputFiles()
    assert len(total) == 8, len(total)
    return df.filter(F.col("c_custkey") > cut)

@query(
    "s56_hudi_mdt_synced_export",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 7 = 0 THEN 111 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s56(spark, sf):
    """S56 — METADATA-TABLE-synced Hudi export (sources/hudi_export.py
    ``_mdt_sync_files``): once ``.hoodie/metadata`` exists, every
    export/compaction commit APPENDS its new file entries to the MDT
    files partition (one AVRO log block, O(files written by the
    commit)) — the incremental maintenance a real Hudi writer performs
    — so ``_metadata_table_listing`` stays FRESH at every commit and
    readers list from KBs of metadata instead of the O(files) walk.
    The fixture exports a MOR table, bootstraps the MDT, then runs a
    log-append merge export AND a compaction; the in-entry asserts pin
    that the listing is non-None (not stale) after BOTH commits —
    without the sync, the staleness gate (MDT instant < data instant)
    would silently fall back to the walk. The returned frame
    snapshot-reads the final state through the MDT-resolved listing;
    DuckDB recomputes it, so a listing that missed a log file or a
    compacted base breaks the row-level hash."""
    import os

    from .sources import hudi as H
    from .sources.hudi import read_hudi, write_metadata_table_files
    from .sources.hudi_export import compact_hudi, export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s56", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_mdt")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    write_metadata_table_files(dest)
    t.merge(
        c.filter(F.col("c_custkey") % 7 == 0).withColumn(
            "cents", F.col("cents") + 111
        )
    )
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    # the log-append export kept the listing fresh (staleness gate
    # would return None had the sync been skipped)
    assert H._metadata_table_listing(dest) is not None
    ci = compact_hudi(spark, dest)
    assert ci is not None
    assert H._metadata_table_listing(dest) is not None
    return read_hudi(spark, dest)

@query(
    "s57_iceberg_expire_snapshots",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 11 = 0 THEN 555 ELSE 0 END AS cents
    FROM base WHERE k % 19 <> 0
    """,
)
def q_s57(spark, sf):
    """S57 — SNAPSHOT EXPIRY (sources/iceberg.py
    ``expire_iceberg_snapshots``): the retention maintenance every
    long-lived table needs — metadata otherwise grows one manifest
    list per commit forever. Snapshots beyond ``keep_last`` /
    ``older_than_ms`` leave the lineage; manifests + manifest lists
    referenced ONLY by them are garbage-collected (orphaned DATA
    files only with ``delete_data_files=True`` — a zero-copy export
    shares the host table's parquet); the CURRENT snapshot and every
    ref-pinned snapshot are protected, matching the official
    ``expireSnapshots``. The fixture exports three snapshots
    (append, +555 merge on ``%11``, ``%19`` delete), expires
    ``keep_last=1``, and snapshot-reads the survivor; in-entry
    asserts pin the expired ids, the .avro GC, the expired-read
    raise, and the untouched shared data files. DuckDB recomputes
    the final state — an expiry that dropped a still-referenced
    manifest or GC'd a live file breaks the read itself."""
    import glob
    import os

    from .sources.iceberg import (
        expire_iceberg_snapshots,
        export_iceberg,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s57", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    t.merge(
        c.filter(F.col("c_custkey") % 11 == 0).withColumn(
            "cents", F.col("cents") + 555
        )
    )
    assert export_iceberg(t) == 2
    t.delete(F.col("c_custkey") % 19 == 0)
    assert export_iceberg(t) == 3
    n_avro = len(glob.glob(os.path.join(t.root, "metadata", "*.avro")))
    n_data = len(glob.glob(os.path.join(t.root, "data*", "**", "*.parquet"),
                           recursive=True))
    expired = expire_iceberg_snapshots(t.root, keep_last=1)
    assert expired == [1, 2]
    # orphaned manifest metadata GC'd; shared data files untouched
    assert len(glob.glob(os.path.join(t.root, "metadata", "*.avro"))) < n_avro
    assert len(glob.glob(os.path.join(t.root, "data*", "**", "*.parquet"),
                         recursive=True)) == n_data
    try:
        read_iceberg(spark, t.root, snapshot_id=1)
        raise AssertionError("expired snapshot must not read")
    except ValueError:
        pass
    return read_iceberg(spark, t.root)

@query(
    "s58_hudi_clean",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 13 = 0 THEN 444 ELSE 0 END
                 + CASE WHEN k % 17 = 0 THEN 222 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s58(spark, sf):
    """S58 — Hudi CLEANING (sources/hudi_export.py ``clean_hudi``,
    the ``KEEP_LATEST_COMMITS`` policy): the retention maintenance
    that stops a long-lived table's storage growing one superseded
    slice per rewrite forever. With ``retain_commits=2``, time travel
    back to the 2nd-newest commit (the HORIZON) stays servable; every
    file group's slices superseded before it are physically deleted; a
    completed ``.clean`` action records ``earliestCommitToRetain`` and
    readers GATE on it — ``as_of`` or a CDC ``begin`` before the
    horizon raises instead of silently returning newer data (the
    in-entry asserts pin the raise, the surviving horizon read, and
    the physical file-count drop). The fixture runs three COW
    merge-exports (+444 on ``%13``, then +222 on ``%17``), cleans,
    and snapshot-reads the survivor, which DuckDB recomputes — a clean
    that removed a live slice breaks the read itself; one that removed
    nothing breaks the count assert."""
    import glob
    import os

    from .sources.hudi import HudiProtocolError, read_hudi
    from .sources.hudi_export import clean_hudi, export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s58", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_clean")
    i1 = export_hudi(t, dest)
    t.merge(
        c.filter(F.col("c_custkey") % 13 == 0).withColumn(
            "cents", F.col("cents") + 444
        )
    )
    i2 = export_hudi(t, dest)
    t.merge(
        t.read().filter(F.col("c_custkey") % 17 == 0).withColumn(
            "cents", F.col("cents") + 222
        )
    )
    i3 = export_hudi(t, dest)
    n_before = len(glob.glob(os.path.join(dest, "*.parquet")))
    ci = clean_hudi(dest, retain_commits=2)
    assert ci is not None and ci > i3
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) < n_before
    # the horizon (i2) still serves; before it raises honestly
    assert read_hudi(spark, dest, as_of=i2).count() == c.count()
    try:
        read_hudi(spark, dest, as_of=i1)
        raise AssertionError("pre-horizon time travel must raise")
    except HudiProtocolError:
        pass
    return read_hudi(spark, dest)

@query(
    "s59_delta_log_truncate",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 3 = 0 THEN 30 ELSE 0 END
                 + CASE WHEN k % 5 = 0 THEN 50 ELSE 0 END
                 + CASE WHEN k % 7 = 0 THEN 70 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s59(spark, sf):
    """S59 — Delta LOG TRUNCATION (sources/delta.py
    ``truncate_delta_log``): the ``logRetentionDuration`` cleanup that
    keeps a long-lived ``_delta_log`` at O(checkpoint + recent tail)
    instead of one JSON per commit forever — completing the RETENTION
    TRIPLE next to ``expire_iceberg_snapshots`` and ``clean_hudi``.
    JSON commits (and older checkpoints) below the newest checkpoint
    serving ``keep_versions`` are deleted; the cut lands on a
    checkpoint boundary so no retained version is orphaned. Readers
    gate honestly with ZERO new read paths: time travel below the cut
    raises the existing no-usable-checkpoint error, a CDF range
    reaching below it raises the existing missing-commit error (both
    pinned in-entry). The fixture exports three merge commits with a
    checkpoint cadence of 2, truncates to the last 2 versions, and
    snapshot-reads the survivor, which DuckDB recomputes — a truncate
    that cut past the covering checkpoint would break the read
    itself."""
    import glob
    import os

    from .sources.delta import (
        DeltaProtocolError,
        export_delta_log,
        read_delta,
        read_delta_changes,
        truncate_delta_log,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s59", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    assert export_delta_log(t, checkpoint_interval=2) == 0
    for mod, add in ((3, 30), (5, 50), (7, 70)):
        t.merge(
            t.read().filter(F.col("c_custkey") % mod == 0).withColumn(
                "cents", F.col("cents") + add
            )
        )
        export_delta_log(t, checkpoint_interval=2)
    log = os.path.join(t.root, "_delta_log")
    n_json = len(glob.glob(os.path.join(log, "*.json")))
    deleted = truncate_delta_log(t, keep_versions=2)
    assert deleted == [0, 1], deleted  # cut at the version-2 checkpoint
    assert len(glob.glob(os.path.join(log, "*.json"))) == n_json - 2
    # below the cut: the existing honest gates fire
    try:
        read_delta(spark, t.root, version=1)
        raise AssertionError("pre-cut time travel must raise")
    except DeltaProtocolError:
        pass
    try:
        read_delta_changes(spark, t.root, starting_version=0).collect()
        raise AssertionError("pre-cut CDF must raise")
    except DeltaProtocolError:
        pass
    # the retained tail still serves both reads
    assert read_delta(spark, t.root, version=2).count() == c.count()
    assert read_delta_changes(spark, t.root, starting_version=3).count() > 0
    return read_delta(spark, t.root)

@query(
    "s60_hudi_clustering",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    """,
)
def q_s60(spark, sf):
    """S60 — Hudi CLUSTERING (sources/hudi_export.py ``cluster_hudi``,
    the SORT strategy): the table service that fixes DATA LAYOUT —
    every current file group's rows rewrite as RANGE-DISJOINT new file
    groups sorted by the clustering key, committed as a
    ``replacecommit`` whose ``partitionToReplaceFileIds`` retires the
    old groups (the metadata the read path already replays). Content
    never changes and per-row commit times survive (in-entry assert:
    ZERO incremental rows from the clustering instant); what changes
    is PRUNABILITY — the fixture's hash-bucketed export spreads every
    cents range across all 4 groups (a range predicate plans 4 files,
    asserted), and after clustering by cents the same predicate plans
    EXACTLY 1 (asserted) via the metadata table's column stats, which
    the clustering commit indexed incrementally. Pre-cluster time
    travel still serves the old layout; a later export refuses
    honestly (bucket->fileId mapping retired). DuckDB recomputes the
    full table — a clustering that dropped, duplicated, or re-stamped
    a row breaks the row-level hash."""
    import os

    from .sources.hudi import (
        read_hudi,
        read_hudi_incremental,
        write_metadata_table_column_stats,
        write_metadata_table_files,
    )
    from .sources.hudi_export import cluster_hudi, export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s60", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_cluster")
    i1 = export_hudi(t, dest)
    write_metadata_table_files(dest)
    write_metadata_table_column_stats(dest)
    # hash-bucketed: a cents range predicate cannot prune anything
    hi = int(
        c.agg(F.expr("percentile_approx(cents, 0.9)")).collect()[0][0]
    )
    assert len(read_hudi(
        spark, dest, predicates=[("cents", ">=", hi)]
    ).inputFiles()) == 4
    ci = cluster_hudi(spark, dest, sort_by=["cents"], target_file_groups=4)
    assert ci is not None and ci > i1
    # range-disjoint layout: the same predicate plans ONE group
    hot = read_hudi(spark, dest, predicates=[("cents", ">=", hi)])
    assert len(hot.inputFiles()) == 1, hot.inputFiles()
    # content identical, commit times preserved: zero phantom rows
    assert read_hudi_incremental(spark, dest, begin=i1).count() == 0
    assert read_hudi(spark, dest, as_of=i1).count() == c.count()
    # the Z-ORDER strategy re-clusters the same groups along the
    # Morton curve over BOTH columns: a two-dim point range now plans
    # a minority of groups (a linear sort only helps its leading key)
    k_hi = int(
        c.agg(F.expr("percentile_approx(c_custkey, 0.9)")).collect()[0][0]
    )
    zi = cluster_hudi(
        spark, dest, zorder_by=["c_custkey", "cents"], target_file_groups=4
    )
    assert zi is not None and zi > ci
    zhot = read_hudi(
        spark, dest,
        predicates=[("c_custkey", ">=", k_hi), ("cents", ">=", hi)],
    )
    assert len(zhot.inputFiles()) <= 2, zhot.inputFiles()
    assert read_hudi_incremental(spark, dest, begin=ci).count() == 0
    return read_hudi(spark, dest)

@query(
    "s61_iceberg_rewrite_manifests",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 11 = 0 THEN 555 ELSE 0 END AS cents
    FROM base WHERE k % 29 <> 0
    """,
)
def q_s61(spark, sf):
    """S61 — MANIFEST COMPACTION (sources/iceberg.py
    ``rewrite_iceberg_manifests``): the rewriteManifests maintenance
    completing Iceberg's metadata story next to s57's expiry —
    incremental exports append one manifest per commit and every read
    parses all of them, so manifest COUNT becomes the planning cost.
    All data-manifest entries carry into ONE new manifest as status-0
    EXISTING rows with EXPLICIT sequence numbers (v2 inheritance is
    ADDED-only — an implicit carry would break equality-delete
    ordering), delete manifests ride as-is, and a ``replace`` snapshot
    commits with the data-file set UNCHANGED. The fixture builds three
    append snapshots + a merge + an equality delete (whose ordering
    DEPENDS on the carried sequence numbers), rewrites, and pins
    in-entry: exactly ONE data manifest after, the changelog emitting
    ZERO rows for the replace snapshot, and pre-rewrite time travel
    intact. DuckDB recomputes the final state — a lost entry, a
    resurrection through mis-ordered equality deletes, or a dropped
    delete manifest breaks the row-level hash."""
    import json as _json

    from .sources.avro_ocf import read_avro
    from .sources.iceberg import (
        _localize,
        _metadata_path,
        append_equality_deletes,
        export_iceberg,
        read_iceberg,
        read_iceberg_changelog,
        rewrite_iceberg_manifests,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s61", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    assert export_iceberg(t) == 1
    t.merge(
        c.filter(F.col("c_custkey") % 11 == 0).withColumn(
            "cents", F.col("cents") + 555
        )
    )
    assert export_iceberg(t) == 2
    doomed = [
        {"c_custkey": r["c_custkey"]}
        for r in c.filter(F.col("c_custkey") % 29 == 0)
        .select("c_custkey")
        .collect()
    ]
    assert doomed
    eq_sid = append_equality_deletes(t.root, doomed, ["c_custkey"])
    sid = rewrite_iceberg_manifests(t.root)
    assert sid is not None and sid > eq_sid
    with open(_metadata_path(t.root)) as f:
        meta = _json.load(f)
    cur = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    _s, manifests = read_avro(_localize(cur["manifest-list"], t.root))
    assert len([m for m in manifests if m.get("content", 0) == 0]) == 1
    # the replace snapshot changes NO rows: the changelog is silent
    assert read_iceberg_changelog(
        spark, t.root, from_snapshot_id=eq_sid
    ).count() == 0
    assert read_iceberg(spark, t.root, snapshot_id=1).count() == c.count()
    return read_iceberg(spark, t.root)

@query(
    "s62_delta_optimize",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    """,
)
def q_s62(spark, sf):
    """S62 — Delta OPTIMIZE + Z-ORDER at the LOG level
    (sources/delta_optimize.py ``optimize_delta``): the table service
    for a PUBLISHED ``_delta_log`` (exported or foreign), completing
    the compaction story across formats next to Hudi clustering (s60)
    and Iceberg manifest rewrite (s61). Three bucketed appends export
    as 12 small files; bin-packing combines them per the row target
    with ``dataChange: false`` on BOTH sides, so the re-layout is
    INVISIBLE to CDF (in-entry: zero change rows from the OPTIMIZE
    versions) while pre-optimize time travel still serves the old
    layout (asserted). The Z-ORDER pass rewrites along the Morton
    curve over (c_custkey, cents) — the hash-bucketed layout spreads
    BOTH ranges across every file, so a two-dim predicate plans most
    of them (asserted >= half); after z-ordering the same predicate
    plans at most half (asserted) via the refreshed footer-harvested
    per-file bounds. DuckDB recomputes the full table — a rewrite that
    dropped, duplicated, or mutated any row breaks the row-level
    hash."""
    from .sources.delta import (
        export_delta_log,
        read_delta,
        read_delta_changes,
    )
    from .sources.delta_optimize import optimize_delta
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s62", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    for m in (0, 1, 2):
        t.append(c.filter(F.col("c_custkey") % 3 == m))
        export_delta_log(t)
    n_rows = c.count()
    n_before = len(read_delta(spark, t.root).inputFiles())
    assert n_before == 12, n_before  # 3 appends x 4 buckets
    v1 = optimize_delta(
        spark, t.root, target_file_rows=max(1, n_rows // 4)
    )
    assert v1 is not None
    packed = read_delta(spark, t.root)
    assert len(packed.inputFiles()) < n_before
    # hash-bucketed layout: a two-dim range predicate plans MOST files
    k_hi = int(c.agg(F.expr("percentile_approx(c_custkey, 0.9)")).collect()[0][0])
    c_hi = int(c.agg(F.expr("percentile_approx(cents, 0.9)")).collect()[0][0])
    preds = [("c_custkey", ">=", k_hi), ("cents", ">=", c_hi)]
    planned_before = len(
        read_delta(spark, t.root, predicates=preds).inputFiles()
    )
    assert planned_before >= len(packed.inputFiles()) / 2
    v2 = optimize_delta(
        spark,
        t.root,
        zorder_by=["c_custkey", "cents"],
        target_file_rows=max(1, n_rows // 8),
    )
    assert v2 == v1 + 1
    after = read_delta(spark, t.root)
    planned = len(read_delta(spark, t.root, predicates=preds).inputFiles())
    assert planned <= max(1, len(after.inputFiles()) // 2), (
        planned, len(after.inputFiles()))
    # both re-layouts are invisible to CDF; old versions still serve
    assert read_delta_changes(spark, t.root, starting_version=v1).count() == 0
    assert read_delta(spark, t.root, version=v1 - 1).count() == n_rows
    return read_delta(spark, t.root)

@query(
    "s63_iceberg_rewrite_datafiles",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    WHERE c_custkey % 29 <> 0
    """,
)
def q_s63(spark, sf):
    """S63 — Iceberg rewriteDataFiles (sources/iceberg_rewrite.py):
    the DATA-FILE compaction completing the maintenance triad next to
    snapshot expiry (s57) and manifest compaction (s61) — and the
    Iceberg twin of s62's Delta OPTIMIZE. Three incremental exports
    leave 12 small files; an EQUALITY DELETE then soft-deletes every
    29th key. The rewrite bin-packs per the row target, APPLIES and
    CONSUMES the delete (in-entry: zero delete files live after,
    struck keys physically gone), clusters by ``sort_by=cents`` so a
    range predicate prunes files via the refreshed Appendix-D bounds
    (asserted), and commits a ``replace`` snapshot the CHANGELOG skips
    (in-entry: the window [delete, replace] emits exactly the eq-
    delete rows, nothing for the rewrite — the official scan's own
    REPLACE skip) while pre-rewrite time travel still serves the old
    layout (asserted). DuckDB recomputes the surviving table — a lost
    row, a resurrected struck key, or a duplicated carry breaks the
    row-level hash."""
    from .sources.iceberg import (
        append_equality_deletes,
        export_iceberg,
        read_iceberg,
        read_iceberg_changelog,
    )
    from .sources.iceberg_rewrite import rewrite_iceberg_data_files
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s63", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    for m in (0, 1, 2):
        t.append(c.filter(F.col("c_custkey") % 3 == m))
        export_iceberg(t)
    n_rows = c.count()
    n_before = len(read_iceberg(spark, t.root).inputFiles())
    assert n_before == 12, n_before  # 3 exports x 4 buckets
    doomed = [
        {"c_custkey": r["c_custkey"]}
        for r in c.filter(F.col("c_custkey") % 29 == 0)
        .select("c_custkey").collect()
    ]
    assert doomed
    eq_sid = append_equality_deletes(t.root, doomed, ["c_custkey"])
    survivors = n_rows - len(doomed)
    sid = rewrite_iceberg_data_files(
        spark,
        t.root,
        sort_by=["cents"],
        target_file_rows=max(1, survivors // 4),
    )
    assert sid is not None and sid > eq_sid
    got = read_iceberg(spark, t.root)
    assert got.count() == survivors
    # the delete files are CONSUMED by the rewrite
    import json as _json

    from .sources.iceberg import _live_files, _metadata_path

    with open(_metadata_path(t.root)) as f:
        meta = _json.load(f)
    _fl, pos_d, eq_d, dv_d = _live_files(meta, t.root, None)
    assert not (pos_d or eq_d or dv_d)
    # cents-sorted layout: a range predicate prunes files
    hi = int(c.agg(F.expr("percentile_approx(cents, 0.9)")).collect()[0][0])
    planned = len(
        read_iceberg(
            spark, t.root, predicates=[("cents", ">=", hi)]
        ).inputFiles()
    )
    assert planned < len(got.inputFiles()), (planned, len(got.inputFiles()))
    # the replace is INVISIBLE to the changelog; the delete is not
    cl = read_iceberg_changelog(spark, t.root, from_snapshot_id=3)
    assert cl.count() == len(doomed)
    assert {r["_change_type"] for r in cl.select("_change_type")
            .distinct().collect()} == {"delete"}
    # pre-rewrite time travel intact (deletes still applied there)
    assert read_iceberg(spark, t.root, snapshot_id=eq_sid).count() == survivors
    return read_iceberg(spark, t.root)

@query(
    "s64_iceberg_partition_evolution",
    oracle="""
    SELECT event_id, ts, user_id, value FROM events
    """,
)
def q_s64(spark, sf):
    """S64 — PARTITIONED Iceberg export + partition-spec EVOLUTION
    (sources/iceberg_partitioned.py): the physical publish that makes
    partition tuples real Iceberg table STATE (the Iceberg twin of
    s43's partitioned Hudi export), plus the spec's metadata-only
    partition evolution every long-lived table eventually does. Half
    the events export under ``day(ts)`` — partition-pure files, typed
    tuples in the manifests, per-field summaries in the manifest list,
    Appendix-D column bounds per file; a probe timestamp filter plans
    EXACTLY ONE file (asserted: day tuples are disjoint). The spec then
    evolves to ``month(ts)`` (new spec-id, fresh partition-field-ids,
    no data movement) and the other half appends INCREMENTALLY under
    the new spec. The same probe filter now plans exactly TWO files —
    one per vintage, each pruned against its OWN spec via the
    source-column transform map (asserted); a post-evolution MERGE in
    the source gates the append-only export honestly (asserted).
    DuckDB recomputes the full event set — a row lost or duplicated
    across the two vintages breaks the row-level hash."""
    import os

    from .sources.iceberg import IcebergProtocolError, read_iceberg
    from .sources.iceberg_partitioned import (
        evolve_iceberg_partition_spec,
        export_iceberg_partitioned,
    )
    from .sources.table import SnapshotTable

    e = read_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s64", sf),
        "event_id bigint, ts timestamp, user_id bigint, value double",
        bucket_key=["event_id"],
        num_buckets=2,
    )
    even = e.filter(F.col("event_id") % 2 == 0)
    t.append(even)
    dest = os.path.join(t.root, "ice_part")
    sid1 = export_iceberg_partitioned(
        spark, t, dest, partition_by=[("ts", "day")]
    )
    assert sid1 == 1
    probe = even.orderBy("event_id").first()["ts"]
    n_v1 = len(read_iceberg(spark, dest).inputFiles())
    assert n_v1 > 1
    pruned1 = read_iceberg(spark, dest, partitions={"ts": probe})
    assert len(pruned1.inputFiles()) == 1, pruned1.inputFiles()
    # metadata-only evolution: day -> month, then the odd half appends
    # under the NEW spec
    new_spec = evolve_iceberg_partition_spec(dest, [("ts", "month")])
    assert new_spec == 1
    t.append(e.filter(F.col("event_id") % 2 == 1))
    sid2 = export_iceberg_partitioned(spark, t, dest)
    assert sid2 == sid1 + 1
    got = read_iceberg(spark, dest)
    assert got.count() == e.count()
    # per-vintage pruning: the probe admits ONE day file (old spec) +
    # ONE month file (new spec) — each file judged against its OWN
    # stored tuple
    pruned2 = read_iceberg(spark, dest, partitions={"ts": probe})
    assert len(pruned2.inputFiles()) == 2, pruned2.inputFiles()
    # time travel to the pre-evolution snapshot still serves vintage 1
    assert read_iceberg(spark, dest, snapshot_id=sid1).count() == even.count()
    # append-only posture gates honestly on a rewriting source history
    t.merge(
        even.limit(1).withColumn("value", F.col("value") + 1.0)
    )
    try:
        export_iceberg_partitioned(spark, t, dest)
        raise AssertionError("merge-shaped history must gate the export")
    except IcebergProtocolError:
        pass
    return read_iceberg(spark, dest)

@query(
    "s65_iceberg_orphan_files",
    oracle="""
    SELECT event_id, ts, user_id, value FROM events
    """,
)
def q_s65(spark, sf):
    """S65 — Iceberg removeOrphanFiles (sources/iceberg_rewrite.py
    ``remove_orphan_iceberg_files``): the maintenance leg the official
    runtime pairs with snapshot expiry — files under ``data/`` that NO
    snapshot references (crashed writes, commits that never completed)
    are deleted, while everything ANY snapshot still reaches survives,
    including files only named by status-2 tombstones (time travel
    never breaks). The fixture publishes events day-partitioned, then
    plants two crashed-write strays (one at the data root, one inside
    a partition dir) plus a hidden staging file; a DRY RUN lists
    exactly the two visible strays (asserted), a young-file horizon
    protects them like the official action's default (asserted: zero
    deletions), and the real pass removes exactly them (asserted) —
    the hidden staging file and every referenced file untouched.
    DuckDB recomputes the full event set: an over-eager scan that
    deleted a referenced file would break the read itself; an
    under-eager one breaks the in-entry orphan-list asserts."""
    import os
    import re as _re
    import shutil as _shutil
    import time as _time
    from urllib.parse import unquote as _unq

    from .sources.iceberg import read_iceberg
    from .sources.iceberg_partitioned import export_iceberg_partitioned
    from .sources.iceberg_rewrite import remove_orphan_iceberg_files
    from .sources.table import SnapshotTable

    e = read_table(spark, sf, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s65", sf),
        "event_id bigint, ts timestamp, user_id bigint, value double",
        bucket_key=["event_id"],
        num_buckets=2,
    )
    t.append(e)
    dest = os.path.join(t.root, "ice_orphans")
    export_iceberg_partitioned(spark, t, dest, partition_by=[("ts", "day")])
    before = read_iceberg(spark, dest)
    n_files = len(before.inputFiles())
    real = _unq(_re.sub(r"^file:/+", "/", before.inputFiles()[0]))
    stray1 = os.path.join(dest, "data", "crashed-0001.parquet")
    stray2 = os.path.join(os.path.dirname(real), "crashed-0002.parquet")
    hidden = os.path.join(dest, "data", ".staged.parquet")
    for p in (stray1, stray2, hidden):
        _shutil.copyfile(real, p)
    cutoff = int(_time.time() * 1000) + 60_000  # strays are "old" vs this
    assert remove_orphan_iceberg_files(
        dest, older_than_ms=cutoff, dry_run=True
    ) == sorted([stray1, stray2])
    assert os.path.exists(stray1)  # dry run touches nothing
    # the official DEFAULT posture (now - 3 days): a just-staged file is
    # an in-flight write, not an orphan — the default deletes nothing
    assert remove_orphan_iceberg_files(dest) == []
    assert os.path.exists(stray1)
    gone = remove_orphan_iceberg_files(dest, older_than_ms=cutoff)
    assert gone == sorted([stray1, stray2])
    assert os.path.exists(hidden)  # staging files are never scanned
    got = read_iceberg(spark, dest)
    assert len(got.inputFiles()) == n_files
    return got

@query(
    "s66_delta_vacuum",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 2 = 0 THEN 77 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s66(spark, sf):
    """S66 — Delta VACUUM (sources/delta_optimize.py ``vacuum_delta``):
    the data-byte half of Delta's GC next to s59's log truncation —
    files the table REMOVED longer than the retention horizon ago are
    physically deleted, reclaiming the bytes a copy-on-write history
    accrues. The fixture is a STANDALONE ``_delta_log`` (vacuum
    refuses zero-copy export roots — the host SnapshotTable's history
    still references removed exported files, asserted): v0 adds an
    even-keys and an odd-keys file, v1 rewrites the even file with
    cents+77 (a merge-shaped remove+add stamped with a wall-clock
    deletionTimestamp). In-entry asserts pin the spec's retention
    semantics: a 1-hour horizon collects NOTHING (the just-removed
    file stays time-travelable), a dry run lists exactly the removed
    file without touching it, the real pass deletes exactly it, and
    v0 time travel now fails at scan while the live read — which
    DuckDB recomputes — is untouched. An over-eager vacuum (a live or
    in-retention file deleted) breaks the read or the asserts; an
    under-eager one breaks the exact deletion list."""
    import glob as _glob
    import json as _json
    import os
    import shutil as _shutil
    import time as _time

    from .sources.delta import read_delta
    from .sources.delta_optimize import vacuum_delta

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    root = _table_root("s66", sf)
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)

    def _write_one(df, name):
        stage = os.path.join(root, f".stage-{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
        _shutil.move(part, os.path.join(root, name))
        _shutil.rmtree(stage)

    _write_one(c.filter(F.col("c_custkey") % 2 == 0), "even.parquet")
    _write_one(c.filter(F.col("c_custkey") % 2 == 1), "odd.parquet")
    _write_one(
        c.filter(F.col("c_custkey") % 2 == 0).withColumn(
            "cents", F.col("cents") + 77
        ),
        "even2.parquet",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "c_custkey", "type": "long", "nullable": True,
             "metadata": {}},
            {"name": "cents", "type": "long", "nullable": True,
             "metadata": {}},
        ],
    }

    def _commit(v, actions):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"),
                  "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    def _add(name):
        return {"add": {"path": name, "partitionValues": {}, "size": 1,
                        "modificationTime": 0, "dataChange": True}}

    _commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "s66", "format": {"provider": "parquet",
                                              "options": {}},
                      "schemaString": _json.dumps(schema),
                      "partitionColumns": [], "configuration": {}}},
        _add("even.parquet"), _add("odd.parquet"),
    ])
    _commit(1, [
        {"remove": {"path": "even.parquet", "dataChange": True,
                    "deletionTimestamp": int(_time.time() * 1000) - 10_000}},
        _add("even2.parquet"),
    ])
    n = c.count()
    assert read_delta(spark, root).count() == n
    # inside the retention window NOTHING collects; v0 still serves
    assert vacuum_delta(root, retention_hours=1.0) == []
    assert read_delta(spark, root, version=0).count() == n
    # dry run lists exactly the removed file, touches nothing
    assert vacuum_delta(root, retention_hours=0.0, dry_run=True) == [
        "even.parquet"]
    assert os.path.exists(os.path.join(root, "even.parquet"))
    assert vacuum_delta(root, retention_hours=0.0) == ["even.parquet"]
    assert not os.path.exists(os.path.join(root, "even.parquet"))
    # past-horizon time travel fails at scan; the live read is intact
    v0_failed = False
    try:
        read_delta(spark, root, version=0).collect()
    except Exception:
        v0_failed = True
    assert v0_failed, "vacuumed time travel must fail at scan"
    return read_delta(spark, root)

@query(
    "s67_delta_liquid_clustering",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    """,
)
def q_s67(spark, sf):
    """S67 — LIQUID CLUSTERING surface (sources/delta_optimize.py
    ``set_delta_clustering_columns`` / ``clustering_columns``): the
    declaration is table STATE (the spec's ``delta.clustering``
    domainMetadata, clusteringColumns as name paths), and a PLAIN
    ``optimize_delta`` on a declared table RE-CLUSTERS along it
    instead of bin-packing — the reference engine's OPTIMIZE-on-a-
    CLUSTER-BY-table behavior. The fixture exports 12 small files,
    declares CLUSTER BY (c_custkey, cents), and runs optimize with NO
    zorder_by: the two-dim predicate plans at most half the files
    (asserted — bin-packing alone could not make both dims selective),
    the re-layout is invisible to CDF (asserted zero rows), and
    clearing the declaration restores plain bin-packing (asserted: one
    file). DuckDB recomputes the full table — a clustering that
    dropped or duplicated a row breaks the row-level hash."""
    from .sources.delta import (
        export_delta_log,
        read_delta,
        read_delta_changes,
    )
    from .sources.delta_optimize import (
        clustering_columns,
        optimize_delta,
        set_delta_clustering_columns,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s67", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    for m in (0, 1, 2):
        t.append(c.filter(F.col("c_custkey") % 3 == m))
        export_delta_log(t)
    n_rows = c.count()
    v = set_delta_clustering_columns(t.root, ["c_custkey", "cents"])
    assert clustering_columns(t.root) == ["c_custkey", "cents"]
    v2 = optimize_delta(
        spark, t.root, target_file_rows=max(1, n_rows // 8)
    )
    assert v2 == v + 1
    got = read_delta(spark, t.root)
    n_files = len(got.inputFiles())
    k_hi = int(c.agg(F.expr("percentile_approx(c_custkey, 0.9)")).collect()[0][0])
    c_hi = int(c.agg(F.expr("percentile_approx(cents, 0.9)")).collect()[0][0])
    planned = len(
        read_delta(
            spark, t.root,
            predicates=[("c_custkey", ">=", k_hi), ("cents", ">=", c_hi)],
        ).inputFiles()
    )
    assert planned <= max(1, n_files // 2), (planned, n_files)
    assert read_delta_changes(spark, t.root, starting_version=v2).count() == 0
    # clearing the declaration restores plain bin-packing
    set_delta_clustering_columns(t.root, [])
    v3 = optimize_delta(spark, t.root, target_file_rows=10**9)
    assert v3 is not None
    assert len(read_delta(spark, t.root).inputFiles()) == 1
    return read_delta(spark, t.root)


@query(
    "s68_hudi_async_compaction",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 7 = 0 THEN 555 ELSE 0 END
                 + CASE WHEN k % 31 = 1 THEN 777 ELSE 0 END AS cents
    FROM base WHERE k % 23 <> 0
    """,
)
def q_s68(spark, sf):
    """S68 — ASYNC COMPACTION timeline states (sources/hudi_export.py
    ``schedule_compaction`` + plan-completing ``compact_hudi``;
    sources/hudi.py ``_pending_compactions``): Hudi's
    requested/inflight protocol — ``schedule_compaction`` writes a
    ``{instant}.compaction.requested`` PLAN naming every logged
    group's base+log files, taking the timeline slot without touching
    data. While pending: readers keep folding the planned groups'
    logs onto the OLD base, and a mid-pending merge's log appends
    attach to the REQUESTED instant (the real log-writer rule), so
    writes never block on the compactor. ``compact_hudi`` then
    COMPLETES the plan AT its instant — marks ``compaction.inflight``,
    folds exactly the planned slices (post-schedule rows are NOT
    baked into the new bases; in-entry assert on the base files'
    ``_hoodie_commit_time``), and lands the completing ``.commit``.
    Lifecycle exercised: export MOR -> merge+delete as logs ->
    SCHEDULE -> another merge lands MID-PENDING (asserted: zero new
    base files, its log attaches to the plan instant, and the
    mid-pending incremental feed is exactly that merge's rows) ->
    COMPLETE (asserted: instant == the plan's, zero phantom rows
    after it). DuckDB recomputes the final snapshot — a completion
    that baked mid-pending rows into the base, dropped a tombstone,
    or detached the pending chain breaks the row-level hash."""
    import glob
    import os

    from .sources.hudi import read_hudi, read_hudi_incremental
    from .sources.hudi_export import (
        compact_hudi,
        export_hudi,
        schedule_compaction,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s68", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    k = F.col("c_custkey")
    t.merge(c.filter(k % 7 == 0).withColumn(
        "cents", F.col("cents") + 555
    ))
    t.delete(k % 23 == 0)
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    # schedule: the plan takes the slot, nothing is rewritten
    ci = schedule_compaction(dest)
    assert ci is not None and ci > i2
    assert os.path.exists(
        os.path.join(dest, ".hoodie", f"{ci}.compaction.requested")
    )
    n_base = len(glob.glob(os.path.join(dest, "*.parquet")))
    # mid-pending merge: logs route to the REQUESTED instant
    upd2 = t.read().filter(k % 31 == 1).withColumn(
        "cents", F.col("cents") + 777
    )
    n2 = upd2.count()
    t.merge(upd2)
    i3 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    assert i3 > ci
    assert [f for f in os.listdir(dest) if f"_{ci}.log" in f]
    assert len(glob.glob(os.path.join(dest, "*.parquet"))) == n_base
    # mid-pending readers fold the pending chain onto the OLD base
    assert read_hudi_incremental(spark, dest, begin=i2).count() == n2
    # complete the plan AT its instant; post-schedule rows stay logs
    assert compact_hudi(spark, dest) == ci
    new_bases = glob.glob(os.path.join(dest, f"*_{ci}.parquet"))
    assert new_bases
    baked = spark.read.parquet(*new_bases)
    assert baked.filter(F.col("_hoodie_commit_time") > ci).count() == 0
    # compaction emitted ZERO phantom changes
    assert read_hudi_incremental(spark, dest, begin=i3).count() == 0
    return read_hudi(spark, dest)


@query(
    "s69_hudi_timeline_archival",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 97 BETWEEN 1 AND 8
                        THEN 1000 + (k % 97) ELSE 0 END AS cents
    FROM base
    """,
)
def q_s69(spark, sf):
    """S69 — TIMELINE ARCHIVAL (sources/hudi_export.py
    ``archive_hudi_timeline``; sources/hudi.py ``_CommittedSet`` /
    ``_archive_boundary``): Hudi's bound on active-timeline size — a
    long-lived table accrues one instant file per commit forever, so
    completed instants below a retention count move into
    ``.hoodie/archived/`` and readers apply the boundary rule: any
    instant at or below the newest archived one is COMMITTED (only
    completed instants archive, never past a pending one), so no read
    ever loads the archive. Lifecycle: 9 commits (append + 8 disjoint
    merges), archive keeping 3 — in-entry asserts pin the bound (the
    active timeline holds exactly the 3 newest instants), archived
    count, SNAPSHOT exactness (DuckDB recomputes), time travel to an
    ARCHIVED instant (base files' instants are data, not timeline),
    incremental queries whose ``begin`` predates the boundary (per-row
    commit times answer them exactly), and the honest CDC gate
    (per-commit windows cannot enumerate archived instants — raises).
    An archival that moved a pending instant, dropped a completed one
    from membership, or mis-stated the boundary breaks a read or an
    assert."""
    import os

    from .sources.hudi import (
        HudiProtocolError,
        read_hudi,
        read_hudi_changes,
        read_hudi_incremental,
    )
    from .sources.hudi_export import archive_hudi_timeline, export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s69", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=2,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_cow")
    k = F.col("c_custkey")
    instants = [export_hudi(t, dest)]
    for j in range(1, 9):  # 8 disjoint merge commits -> 9-instant history
        t.merge(
            c.filter(k % 97 == j).withColumn(
                "cents", F.col("cents") + (1000 + j)
            )
        )
        instants.append(export_hudi(t, dest))
    hdir = os.path.join(dest, ".hoodie")
    gone = archive_hudi_timeline(dest, keep_instants=3)
    assert gone == instants[:6], (gone, instants)
    # the active timeline is BOUNDED: exactly the 3 newest instants
    from .sources.hudi import _INSTANT_RE

    active = sorted(
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    )
    assert active == instants[6:], (active, instants)
    # time travel to an ARCHIVED instant still serves (boundary rule)
    n = c.count()
    assert read_hudi(spark, dest, as_of=instants[3]).count() == n
    # incremental across the boundary: per-row commit times are data —
    # begin at the ARCHIVED first instant sees all 8 merge classes
    n_merged = c.filter((k % 97 >= 1) & (k % 97 <= 8)).count()
    assert read_hudi_incremental(
        spark, dest, begin=instants[0]
    ).count() == n_merged
    # ...and a window fully inside the active tail stays exact
    assert read_hudi_incremental(
        spark, dest, begin=instants[7]
    ).count() == c.filter(k % 97 == 8).count()
    # per-commit CDC windows cannot enumerate archived instants: gate
    try:
        read_hudi_changes(spark, dest, begin=instants[0])
        raise AssertionError("cdc below the archive boundary must raise")
    except HudiProtocolError:
        pass
    return read_hudi(spark, dest)


@query(
    "s70_delta_v2_checkpoint",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 3 = 0 THEN 0
                        WHEN k % 3 = 1 THEN 11 ELSE 22 END AS cents
    FROM base
    """,
)
def q_s70(spark, sf):
    """S70 — V2 CHECKPOINT writing (sources/delta.py
    ``_write_checkpoint_v2``, selected by ``_write_checkpoint_file``
    above ``checkpoint_v2_threshold`` actions): the MANIFEST + SIDECAR
    layout real writers switch to at scale — file actions shard into
    parquet sidecars under ``_delta_log/_sidecars/``, the
    ``{v}.checkpoint.{uniqueStr}.parquet`` manifest holds
    checkpointMetadata / protocol / metaData / domainMetadata /
    sidecar refs, and the manifest's protocol is UPGRADED to declare
    the ``v2Checkpoint`` reader+writer feature (the spec's obligation
    for tables whose checkpoints use V2; in-entry assert). The
    fixture exports three incremental versions with
    ``checkpoint_v2_threshold=1`` forcing V2, asserts the layout (a
    uuid manifest + sidecars, NO classic single file), TRUNCATES the
    JSON tail below the checkpoint, and reads back through the V2
    replay alone (``_load_checkpoint_v2``: manifest actions + sidecar
    add rows) — DuckDB recomputes all three generations, so a sidecar
    dropped from the replay, a stale manifest picked, or an add row
    lost in sharding breaks the row-level hash."""
    import glob
    import os

    from .sources.delta import (
        _declared_protocol,
        export_delta_log,
        read_delta,
        truncate_delta_log,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s70", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    k = F.col("c_custkey")
    for m, bump in ((0, 0), (1, 11), (2, 22)):
        t.append(
            c.filter(k % 3 == m).withColumn(
                "cents", F.col("cents") + bump
            )
        )
        v = export_delta_log(t, checkpoint_interval=1,
                             checkpoint_v2_threshold=1)
        assert v == m
    log_dir = os.path.join(t.root, "_delta_log")
    # V2 layout: uuid manifests + sidecars, no classic single file
    assert not glob.glob(os.path.join(log_dir, "*.checkpoint.parquet"))
    assert glob.glob(os.path.join(log_dir, "_sidecars", "*.parquet"))
    deleted = truncate_delta_log(t.root, keep_versions=1)
    assert deleted == [0, 1]
    # the manifest's protocol declares the v2Checkpoint obligation and
    # keeps the export's writer features
    proto = _declared_protocol(log_dir)
    assert "v2Checkpoint" in proto["readerFeatures"]
    assert "inCommitTimestamp" in proto["writerFeatures"]
    return read_delta(spark, t.root)


@query(
    "s71_delta_restore",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s71(spark, sf):
    """S71 — Delta RESTORE (sources/delta_optimize.py
    ``restore_delta``): ``RESTORE TABLE t TO VERSION AS OF v`` as ONE
    log-level commit — re-adds every file live at the target but not
    at the head (carrying the target's stats / DVs / row-tracking
    stamps) and retires every head file the target lacked, both sides
    ``dataChange: true`` (incremental consumers see the restoration,
    the official behavior), data only (the current metadata stays).
    History is PRESERVED: the rolled-back commits remain
    time-travelable above the restore (in-entry assert), the restore
    itself surfaces in CDF as file-level changes (asserted non-empty),
    restoring the current version / a no-op state raises, and a
    vacuumed-away target raises rather than committing dead file refs
    (pinned by pytest). Lifecycle: append (v0) -> merge +333 on %9
    (v1) -> delete %23 (v2) -> RESTORE to v1 (v3) — DuckDB recomputes
    v1's exact state, so a missed re-add, a leaked delete, or a
    dropped DV breaks the row-level hash."""
    import os

    from .sources.delta import (
        export_delta_log,
        read_delta,
        read_delta_changes,
    )
    from .sources.delta_optimize import restore_delta
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s71", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    k = F.col("c_custkey")
    t.append(c)
    assert export_delta_log(t) == 0
    t.merge(c.filter(k % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    ))
    assert export_delta_log(t) == 1
    n_v1 = read_delta(spark, t.root).count()
    t.delete(k % 23 == 0)
    assert export_delta_log(t) == 2
    assert read_delta(spark, t.root).count() < n_v1
    try:
        restore_delta(t.root, 2)
        raise AssertionError("restoring the current version must raise")
    except ValueError:
        pass
    v = restore_delta(t.root, 1)
    assert v == 3
    got = read_delta(spark, t.root)
    assert got.count() == n_v1
    # the rolled-back state is still time-travelable above the restore
    assert read_delta(spark, t.root, version=2).count() < n_v1
    # the restore surfaces in CDF (dataChange:true both sides)
    assert read_delta_changes(spark, t.root, starting_version=v).count() > 0
    return got


@query(
    "s72_hudi_savepoint_restore",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s72(spark, sf):
    """S72 — Hudi SAVEPOINT + RESTORE (sources/hudi_export.py
    ``savepoint_hudi`` / ``restore_hudi``): the format's own rollback
    pair. A savepoint pins an instant's file slices against the
    cleaner FOREVER (per group, the newest base at or before it plus
    its log chain survive any retention horizon) and keeps the
    instant READABLE below the clean horizon (in-entry assert: as_of
    the savepoint serves exactly after an aggressive clean, while an
    un-savepointed below-horizon instant still gates); archival never
    crosses it. RESTORE is then Hudi's DESTRUCTIVE rollback (unlike
    Delta's restore commit): every newer timeline action and the
    files its write stats name are deleted, so the table IS the
    savepointed state — asserted: the timeline's newest instant is
    the savepoint and a re-run restore is an idempotent no-op.
    Lifecycle: append (i0) -> merge +333 on %9 (i1, SAVEPOINTED) ->
    merge +777 on %31==1 (i2) -> delete %23 (i3) -> clean retain 1 ->
    RESTORE to i1. DuckDB recomputes i1's exact state; a slice the
    cleaner wrongly collected, a restore that left a newer file, or a
    lost savepoint protection breaks the read or an assert."""
    import os

    from .sources.hudi import (
        HudiProtocolError,
        _INSTANT_RE,
        read_hudi,
    )
    from .sources.hudi_export import (
        clean_hudi,
        export_hudi,
        restore_hudi,
        savepoint_hudi,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s72", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    k = F.col("c_custkey")
    t.append(c)
    export_hudi(t, dest := os.path.join(t.root, "hudi_cow"))
    t.merge(c.filter(k % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    ))
    i1 = export_hudi(t, dest)
    assert savepoint_hudi(dest, i1) == i1
    n_i1 = read_hudi(spark, dest).count()
    t.merge(t.read().filter(k % 31 == 1).withColumn(
        "cents", F.col("cents") + 777
    ))
    i2 = export_hudi(t, dest)
    t.delete(k % 23 == 0)
    i3 = export_hudi(t, dest)
    assert i3 > i2 > i1
    # aggressive clean: the savepointed slices survive and i1 stays
    # readable below the horizon; un-savepointed i2 gates honestly
    assert clean_hudi(dest, retain_commits=1) is not None
    assert read_hudi(spark, dest, as_of=i1).count() == n_i1
    try:
        read_hudi(spark, dest, as_of=i2).collect()
        raise AssertionError("below-horizon read must gate")
    except HudiProtocolError:
        pass
    # destructive rollback to the savepoint
    gone = restore_hudi(dest, i1)
    assert gone
    assert restore_hudi(dest, i1) == []  # idempotent no-op
    hdir = os.path.join(dest, ".hoodie")
    assert max(
        m.group(1)
        for m in (_INSTANT_RE.match(n) for n in os.listdir(hdir))
        if m
    ) == i1
    got = read_hudi(spark, dest)
    assert got.count() == n_i1
    return got


@query(
    "s73_delta_shallow_clone",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END AS cents
    FROM base
    UNION ALL
    SELECT k + 8000000, cents FROM base WHERE k % 40 = 0
    """,
)
def q_s73(spark, sf):
    """S73 — Delta SHALLOW CLONE (sources/delta.py ``clone_delta``):
    a new table whose v0 references the source's CURRENT files by
    ABSOLUTE path — zero bytes copied, the clone-then-diverge workflow
    real shallow clones serve (experiments over a 100 TB table at
    metadata cost). Carried: schema/configuration, the source's
    DECLARED protocol, live domainMetadata, per-file stats (in-entry
    assert: predicates data-skip on the clone), row-tracking stamps,
    and deletion vectors (relative refs absolutized; pinned by
    pytest). INDEPENDENCE both ways asserted: a commit to the clone
    (an appended file) never surfaces in the source, and a later
    SOURCE export never surfaces in the clone. The returned frame
    reads the DIVERGED clone; DuckDB recomputes source-at-clone-time
    plus the clone-only append — a clone that missed a live file,
    leaked the source's later commit, or dropped carried stats breaks
    the hash or the skip assert."""
    import glob as _glob
    import json as _json
    import os
    import shutil as _shutil

    from .sources.delta import clone_delta, export_delta_log, read_delta
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    root = _table_root("s73", sf)
    t = SnapshotTable.create(
        spark,
        os.path.join(root, "src"),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
        stats_cols=["c_custkey", "cents"],
    )
    k = F.col("c_custkey")
    t.append(c)
    export_delta_log(t)
    t.merge(c.filter(k % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    ))
    export_delta_log(t)
    dst = os.path.join(root, "clone")
    assert clone_delta(t.root, dst) == 0
    n_src = read_delta(spark, t.root).count()
    assert read_delta(spark, dst).count() == n_src
    # carried stats drive data skipping on the CLONE
    k_hi = int(c.agg(F.max("c_custkey")).collect()[0][0])
    pruned = read_delta(
        spark, dst, predicates=[("c_custkey", ">", k_hi)]
    )
    assert len(pruned.inputFiles()) == 0
    # the clone DIVERGES: an append lands in the clone's own log...
    late = c.filter(k % 40 == 0).select(
        (k + 8_000_000).alias("c_custkey"), "cents"
    )
    stage = os.path.join(dst, ".stage-late")
    late.coalesce(1).write.parquet(stage)
    (part,) = _glob.glob(os.path.join(stage, "part-*.parquet"))
    _shutil.move(part, os.path.join(dst, "late.parquet"))
    _shutil.rmtree(stage)
    with open(os.path.join(dst, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(_json.dumps({"add": {
            "path": "late.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True}}) + "\n")
    # ...the source never sees it, and a later SOURCE export never
    # surfaces in the clone
    assert read_delta(spark, t.root).count() == n_src
    t.merge(c.filter(k % 7 == 0).withColumn(
        "cents", F.col("cents") + 999
    ))
    export_delta_log(t)
    got = read_delta(spark, dst)
    assert got.count() == n_src + late.count()
    return got


@query(
    "s74_hudi_rollback",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS c_custkey,
           cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END AS cents
    FROM base
    """,
)
def q_s74(spark, sf):
    """S74 — Hudi ROLLBACK (sources/hudi_export.py ``rollback_hudi``):
    crash cleanup for an UNCOMMITTED instant. A writer that died after
    staging files but before its completed marker leaves debris every
    reader already ignores (snapshot isolation gates on the marker —
    in-entry assert: the snapshot is exact BEFORE the rollback too);
    rollback reclaims it: instant-stamped marker-less base files and
    all-target log files are deleted, a log file MIXING committed and
    target blocks gains the spec's appended ROLLBACK COMMAND block
    (surgery is impossible in an append-only log; this reader's gating
    hides the blocks, the command serves spec-following foreign
    readers), the instant's requested/inflight state files cancel, and
    a completed ``.rollback`` action lands. A COMPLETED target refuses
    (that is restore's job). DuckDB recomputes the final snapshot; a
    rollback that deleted a committed file or let debris surface
    breaks the hash. Idempotent re-run pinned by pytest."""
    import glob as _glob
    import os
    import shutil as _shutil

    from .sources import hudi_log as HL
    from .sources.hudi import read_hudi
    from .sources.hudi_export import export_hudi, rollback_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    t = SnapshotTable.create(
        spark,
        _table_root("s74", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    k = F.col("c_custkey")
    t.append(c)
    dest = os.path.join(t.root, "hudi_mor")
    i1 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(c.filter(k % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    ))
    i2 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    n = read_hudi(spark, dest).count()
    # a CRASHED writer's debris: marker-less base copy, an all-debris
    # log file, and debris blocks appended to a committed chain
    fail = f"{int(i2) + 7:014d}"
    a_base = sorted(_glob.glob(os.path.join(dest, "b0000_*.parquet")))[0]
    debris_base = os.path.join(dest, f"b0000_9-9-9_{fail}.parquet")
    _shutil.copyfile(a_base, debris_base)
    schema = {"type": "record", "name": "r", "fields": [
        {"name": "c_custkey", "type": ["null", "long"]},
        {"name": "cents", "type": ["null", "long"]},
    ]}
    debris_log = os.path.join(dest, HL.log_file_name("b0001", i1, 9, "9-9-9"))
    HL.append_avro_block(debris_log, fail, schema,
                         [{"c_custkey": 99_000_001, "cents": 1}])
    mixed = sorted(f for f in os.listdir(dest) if ".log." in f
                   and "9-9-9" not in f)[0]
    HL.append_avro_block(os.path.join(dest, mixed), fail, schema,
                         [{"c_custkey": 99_000_002, "cents": 2}])
    # invisible debris: the snapshot is exact even before the rollback
    assert read_hudi(spark, dest).count() == n
    out = rollback_hudi(dest, fail)
    assert not os.path.exists(debris_base)
    assert not os.path.exists(debris_log)
    assert out["commands"], out
    assert os.path.exists(
        os.path.join(dest, ".hoodie", f"{out['instant']}.rollback")
    )
    got = read_hudi(spark, dest)
    assert got.count() == n
    return got


@query(
    "s75_delta_schema_evolution_write",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    )
    SELECT k AS cust_id, cents FROM base
    UNION ALL
    SELECT k + 8000000, cents + 4000000000 FROM base WHERE k % 40 = 0
    """,
)
def q_s75(spark, sf):
    """S75 — Delta SCHEMA-EVOLUTION WRITERS (sources/delta.py
    ``rename_delta_column`` / ``widen_delta_column``): the write side
    of the column-mapping (s21) and type-widening (s39) read paths. A
    RENAME under mapping is a metadata-only commit — the physical
    ``col-<uuid>`` names in the files never change, zero bytes move at
    any table size (and WITHOUT mapping it refuses: logical names ARE
    the storage names there, the spec's rule — asserted). WIDENING
    ``integer -> long`` records the change in the field's
    ``delta.typeChanges`` (existing INT32 files upcast natively at
    scan; the appended post-widen file stores real longs OVERFLOWING
    int32 — the +4e9 bonus — so a reader that ignored the widening
    breaks loudly), upgrades the protocol to declare ``typeWidening``
    (asserted), and an ILLEGAL narrowing raises before any byte moves
    (asserted). DuckDB recomputes the final frame under the RENAMED
    column name — a rename that leaked the old name, a lost physical
    mapping, or a mis-widened value breaks the hash."""
    import glob as _glob
    import json as _json
    import os
    import shutil as _shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from .sources.delta import (
        DeltaProtocolError,
        _declared_protocol,
        read_delta,
        rename_delta_column,
        widen_delta_column,
    )

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("int").alias("cents"),
    )
    root = _table_root("s75", sf)
    os.makedirs(os.path.join(root, "_delta_log"), exist_ok=True)

    def _cm_field(name, typ, phys, cid):
        return {"name": name, "type": typ, "nullable": True,
                "metadata": {"delta.columnMapping.id": cid,
                             "delta.columnMapping.physicalName": phys}}

    def _write_phys(df, name, cents_type):
        pdf = df.toPandas()
        tbl = pa.table({
            "col-k": pa.array(pdf["c_custkey"], type=pa.int64()),
            "col-c": pa.array(pdf["cents"], type=cents_type),
        })
        pq.write_table(tbl, os.path.join(root, name))

    _write_phys(c.filter(F.col("c_custkey") % 2 == 0), "even.parquet",
                pa.int32())
    _write_phys(c.filter(F.col("c_custkey") % 2 == 1), "odd.parquet",
                pa.int32())
    schema0 = {"type": "struct", "fields": [
        _cm_field("c_custkey", "long", "col-k", 1),
        _cm_field("cents", "integer", "col-c", 2),
    ]}

    def _commit(v, actions):
        with open(os.path.join(root, "_delta_log", f"{v:020d}.json"),
                  "w") as f:
            for a in actions:
                f.write(_json.dumps(a) + "\n")

    _commit(0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {"id": "s75", "format": {"provider": "parquet",
                                              "options": {}},
                      "schemaString": _json.dumps(schema0),
                      "partitionColumns": [],
                      "configuration": {
                          "delta.columnMapping.mode": "name"}}},
        {"add": {"path": "even.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "odd.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    n = c.count()
    assert read_delta(spark, root).count() == n
    # illegal narrowing refuses before any byte moves
    try:
        widen_delta_column(root, "c_custkey", "integer")
        raise AssertionError("narrowing must refuse")
    except DeltaProtocolError:
        pass
    # widen integer -> long: metadata-only, protocol gains the feature
    v1 = widen_delta_column(root, "cents", "long")
    assert v1 == 1
    proto = _declared_protocol(os.path.join(root, "_delta_log"))
    assert "typeWidening" in proto["readerFeatures"]
    # rename under mapping: metadata-only
    v2 = rename_delta_column(root, "c_custkey", "cust_id")
    assert v2 == 2
    # a later writer appends REAL longs overflowing int32
    bonus = c.filter(F.col("c_custkey") % 40 == 0).select(
        (F.col("c_custkey") + 8_000_000).alias("c_custkey"),
        (F.col("cents").cast("long") + 4_000_000_000).alias("cents"),
    )
    pdf = bonus.toPandas()
    pq.write_table(
        pa.table({"col-k": pa.array(pdf["c_custkey"], type=pa.int64()),
                  "col-c": pa.array(pdf["cents"], type=pa.int64())}),
        os.path.join(root, "bonus.parquet"),
    )
    _commit(3, [
        {"add": {"path": "bonus.parquet", "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    got = read_delta(spark, root)
    assert got.columns == ["cust_id", "cents"]
    return got


@query(
    "s76_iceberg_wap",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    merged AS (
      SELECT k, cents + CASE WHEN k % 9 = 0 THEN 333 ELSE 0 END AS cents
      FROM base
    )
    SELECT k AS c_custkey, cents FROM merged
    WHERE k <> (SELECT min(k) FROM merged)
    UNION ALL
    SELECT k + 8000000 AS c_custkey, cents FROM base WHERE k % 40 = 0
    """,
)
def q_s76(spark, sf):
    """S76 — Iceberg WRITE-AUDIT-PUBLISH (sources/iceberg.py
    ``export_iceberg(branch=)`` + ``publish_iceberg_wap``): the
    audit-gated ingestion pattern. A commit STAGES on a named branch
    (main's pointer never moves — asserted after every stage), the
    audit reads ``ref=branch``, and publish lands it two ways, both
    exercised: FAST-FORWARD when main never advanced (the staged
    overwrite becomes main's head, zero new files), and CHERRY-PICK
    when main advanced concurrently (a positional DELETE of the
    min-key row lands between stage and publish; the staged APPEND's
    manifests replay on TOP of main's state, re-sequenced — main's
    delete stays honored). A REJECTED audit (poison rows staged on a
    third branch, then ``drop_iceberg_ref``) never leaks to main —
    asserted before the final read. DuckDB recomputes the end state
    (merged base minus the deleted min-key row, plus the published
    late rows, no poison); a stage that advanced main early, a publish
    that dropped main's concurrent delete, or a leaked rejected row
    breaks the hash. All stage/publish steps are metadata-only —
    at 100 TB a publish moves a pointer (fast-forward) or writes one
    manifest-list avro (cherry-pick). Publish-conflict refusals
    (multi-commit / non-append cherry-pick) pinned by pytest."""
    import os

    import pyarrow.parquet as _pq

    from .sources.iceberg import (
        append_position_deletes,
        drop_iceberg_ref,
        export_iceberg,
        iceberg_meta_table,
        publish_iceberg_wap,
        read_iceberg,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    t = SnapshotTable.create(
        spark,
        _table_root("s76", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    sid1 = export_iceberg(t)
    n = c.count()

    def main_agg():
        row = read_iceberg(spark, t.root).agg(
            F.count("*").alias("n"), F.sum("cents").alias("s")
        ).collect()[0]
        return row["n"], row["s"]

    base_agg = main_agg()
    assert base_agg[0] == n

    # STAGE an overwrite on the audit branch: main must not move
    t.merge(c.filter(k % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    ))
    sid2 = export_iceberg(t, branch="audit")
    assert sid2 > sid1 and main_agg() == base_agg
    n9 = c.filter(k % 9 == 0).count()
    staged_sum = read_iceberg(spark, t.root, ref="audit").agg(
        F.sum("cents")
    ).collect()[0][0]
    assert staged_sum == base_agg[1] + 333 * n9
    # PUBLISH: main never advanced -> fast-forward, main serves staged
    out = publish_iceberg_wap(t.root, "audit")
    assert out == {"snapshot_id": sid2, "mode": "fast-forward"}
    assert main_agg() == (n, staged_sum)

    # STAGE an append; main advances CONCURRENTLY -> cherry-pick
    late = c.filter(k % 40 == 0).select(
        (k + 8_000_000).alias("c_custkey"), "cents"
    )
    n_late = late.count()
    t.append(late)
    export_iceberg(t, branch="audit2")
    assert main_agg()[0] == n  # staged rows invisible on main
    # concurrent writer: positional DELETE of the min-key row
    k_min = int(c.agg(F.min("c_custkey")).collect()[0][0])
    victim = None
    for r in iceberg_meta_table(spark, t.root, "files").collect():
        path = r["file_path"]
        col = _pq.read_table(path, columns=["c_custkey"]).column(0)
        for pos, v in enumerate(col.to_pylist()):
            if v == k_min:
                victim = (path, pos)
                break
        if victim:
            break
    assert victim is not None
    append_position_deletes(t.root, [victim])
    assert main_agg()[0] == n - 1
    out2 = publish_iceberg_wap(t.root, "audit2")
    assert out2["mode"] == "cherry-pick"
    assert main_agg()[0] == n - 1 + n_late  # delete honored + staged in

    # REJECTED audit: staged poison never reaches main
    poison = c.filter(k % 100 == 0).select(
        (k + 9_000_000).alias("c_custkey"), "cents"
    )
    t.append(poison)
    export_iceberg(t, branch="bad-audit")
    assert read_iceberg(spark, t.root, ref="bad-audit").filter(
        k >= 9_000_000
    ).count() == poison.count()
    drop_iceberg_ref(t.root, "bad-audit")
    # the wap.id flavor rejects the same way: a ref-less staged
    # snapshot (summary wap.id) audits by snapshot id and, never
    # published, never reaches main (it is simply unreferenced)
    wap_sid = export_iceberg(t, wap_id="s76-poison")
    assert read_iceberg(spark, t.root, snapshot_id=wap_sid).filter(
        k >= 9_000_000
    ).count() == poison.count()
    got = read_iceberg(spark, t.root)
    assert got.filter(k >= 9_000_000).count() == 0
    assert got.count() == n - 1 + n_late
    return got


@query(
    "s77_delta_constraints",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           c_custkey % 7 AS cust_bucket
    FROM customer
    """,
)
def q_s77(spark, sf):
    """S77 — Delta WRITER CONSTRAINTS (sources/delta_constraints.py):
    CHECK constraints (``delta.constraints.*``), NOT NULL column
    invariants, and GENERATED columns enforced on the append path. The
    fixture v0 declares all three (protocol writerFeatures
    checkConstraints/generatedColumns/invariants — a foreign log shape
    this writer must honor, not gate); two passing batches land (one
    computes the generated column, one provides it correctly), then
    every violation class is proven to RAISE NAMING THE RULE and
    commit nothing: a negative-cents CHECK breach, a NULL key, a wrong
    generated value — after each, the table count is asserted
    unchanged and no staging debris remains. ADD CONSTRAINT validates
    existing data first (a constraint current rows violate refuses —
    asserted), then gates the next bad append. Validation is ONE JVM
    aggregate pass per batch (no Python UDFs, map-side combinable —
    the same plan shape at 100 TB); DuckDB recomputes the surviving
    rows, so a leaked violating row or a mis-computed generated column
    breaks the hash. Unknown-writer-feature gating (rowTracking)
    pinned by pytest."""
    import json as _json
    import os

    from .sources.delta import DeltaProtocolError, read_delta
    from .sources.delta_constraints import (
        append_delta,
        set_delta_check_constraint,
    )

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s77", sf)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    fields = [
        {"name": "c_custkey", "type": "long", "nullable": False,
         "metadata": {}},
        {"name": "cents", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "cust_bucket", "type": "long", "nullable": True,
         "metadata": {"delta.generationExpression": "c_custkey % 7"}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["checkConstraints", "generatedColumns",
                               "invariants"]}}) + "\n")
        f.write(_json.dumps({"metaData": {
            "id": "s77", "format": {"provider": "parquet", "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [],
            "configuration": {
                "delta.constraints.cents_floor": "cents >= -100000"},
        }}) + "\n")

    # passing batch 1: generated column COMPUTED by the writer
    append_delta(spark, root, c.filter(k % 2 == 0))
    # passing batch 2: generated column PROVIDED correctly
    append_delta(spark, root, c.filter(k % 2 == 1).withColumn(
        "cust_bucket", k % 7
    ))
    n = c.count()
    assert read_delta(spark, root).count() == n

    def _must_raise(df, fragment):
        try:
            append_delta(spark, root, df)
            raise AssertionError(f"append must refuse ({fragment})")
        except DeltaProtocolError as e:
            assert fragment in str(e)
        assert read_delta(spark, root).count() == n  # nothing leaked
        assert not [
            x for x in os.listdir(root) if x.startswith(".stage")
        ]

    one = c.limit(1).select(
        F.lit(8_000_001).alias("c_custkey"), "cents"
    )
    # CHECK breach names the constraint
    _must_raise(one.withColumn("cents", F.lit(-9_999_999)),
                "cents_floor")
    # NOT NULL breach names the column
    _must_raise(one.withColumn("c_custkey",
                               F.lit(None).cast("long")), "NOT NULL")
    # wrong generated value refuses
    _must_raise(one.withColumn("cust_bucket", F.lit(999)),
                "generated column")
    # ADD CONSTRAINT validates existing data first...
    try:
        set_delta_check_constraint(spark, root, "huge_keys",
                                   "c_custkey > 1000000")
        raise AssertionError("violated-by-existing-data must refuse")
    except DeltaProtocolError as e:
        assert "existing row" in str(e)
    # ...a satisfiable one lands and gates the next bad append
    set_delta_check_constraint(spark, root, "key_nonneg",
                               "c_custkey >= 0")
    _must_raise(one.withColumn("c_custkey", F.lit(-5).cast("long")),
                "key_nonneg")
    return read_delta(spark, root)


@query(
    "s78_hudi_pending_clustering",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_custkey % 9 = 0 THEN 333 ELSE 0 END
             + CASE WHEN c_custkey % 31 = 1 THEN 777 ELSE 0 END AS cents
    FROM customer
    """,
)
def q_s78(spark, sf):
    """S78 — Hudi PENDING-CLUSTERING replacecommit states
    (sources/hudi_export.py ``schedule_clustering`` /
    ``complete_clustering``; mirror of s68's async-compaction
    lifecycle). A MERGE_ON_READ table with live log chains schedules a
    clustering plan (``replacecommit.requested`` naming every file
    group + the sort strategy); from that moment the spec's
    UPDATE-CONFLICT rule applies to the named groups, both strategies
    exercised in-entry: the default REJECT refuses a mid-pending merge
    naming the plan (asserted: the table still serves the pre-merge
    rows), and ALLOW lands the merge — after which the COMPLETION
    detects the conflicting deltacommit and ABORTS naming it
    (asserted), because the concurrent writer wins. The aborted plan
    cancels via rollback_hudi (requested/inflight removed), a fresh
    schedule completes cleanly: the replacecommit retires every
    planned group into sort-ordered range-disjoint new groups, with
    per-row commit times preserved (time travel to the pre-clustering
    instant asserted identical — layout changed, content never).
    DuckDB recomputes the final snapshot (base + both merges); a
    leaked rejected write, a lost log record through the clustering
    fold, or a phantom row breaks the hash. Scale: the plan is
    driver-side metadata; the completion is one repartitionByRange
    job over the planned groups (the same shuffle a real SORT-strategy
    clustering runs)."""
    import os

    from .sources.hudi import (
        HudiProtocolError,
        _pending_clusterings,
        read_hudi,
    )
    from .sources.hudi_export import (
        complete_clustering,
        export_hudi,
        rollback_hudi,
        schedule_clustering,
    )
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    t = SnapshotTable.create(
        spark,
        _table_root("s78", sf),
        "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"],
        num_buckets=4,
    )
    t.append(c)
    dest = os.path.join(t.root, "hudi_mor")
    export_hudi(t, dest, table_type="MERGE_ON_READ")
    t.merge(t.read().filter(k % 9 == 0).withColumn(
        "cents", F.col("cents") + 333
    ))
    export_hudi(t, dest, table_type="MERGE_ON_READ")  # log appends
    sum_before = read_hudi(spark, dest).agg(
        F.sum("cents")
    ).collect()[0][0]

    plan = schedule_clustering(dest, sort_by=["c_custkey"],
                               target_file_groups=3)
    assert plan is not None and list(_pending_clusterings(dest)) == [plan]

    # REJECT: the mid-pending merge refuses naming the plan...
    t.merge(t.read().filter(k % 31 == 1).withColumn(
        "cents", F.col("cents") + 777
    ))
    try:
        export_hudi(t, dest, table_type="MERGE_ON_READ")
        raise AssertionError("mid-pending write must refuse")
    except HudiProtocolError as e:
        assert "pending clustering" in str(e)
    # ...and nothing leaked
    assert read_hudi(spark, dest).agg(
        F.sum("cents")
    ).collect()[0][0] == sum_before

    # ALLOW: the merge lands; the completion detects it and aborts
    wi = export_hudi(t, dest, table_type="MERGE_ON_READ",
                     clustering_updates="allow")
    try:
        complete_clustering(spark, dest)
        raise AssertionError("conflicting completion must abort")
    except HudiProtocolError as e:
        assert wi in str(e)
    rollback_hudi(dest, plan)  # cancel the aborted plan
    assert _pending_clusterings(dest) == {}

    # clean schedule + completion: planned groups retire into
    # sort-ordered new groups, content identical
    plan2 = schedule_clustering(dest, sort_by=["c_custkey"],
                                target_file_groups=3)
    assert complete_clustering(spark, dest) == plan2
    got = read_hudi(spark, dest)
    files = {os.path.basename(p) for p in got.inputFiles()}
    assert files and all(f.startswith("c0") for f in files)
    # content survived the layout change: pre-clustering time travel
    # serves the same rows the clustered snapshot does
    before = read_hudi(spark, dest, as_of=wi)
    # symmetric multiset equality in ONE job
    assert before.exceptAll(got).unionAll(
        got.exceptAll(before)
    ).isEmpty()
    return got


@query(
    "s79_delta_identity",
    oracle="""
    WITH base AS (
      SELECT c_custkey AS k,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer
    ),
    evens AS (
      SELECT k, cents, row_number() OVER (ORDER BY k) AS rn
      FROM base WHERE k % 2 = 0
    ),
    n AS (SELECT count(*) AS c FROM base WHERE k % 2 = 0),
    odds AS (
      SELECT k, cents, row_number() OVER (ORDER BY k) AS rn
      FROM base WHERE k % 2 = 1
    )
    SELECT CAST(1 + 3 * (rn - 1) AS BIGINT) AS id,
           k AS c_custkey, cents
    FROM evens
    UNION ALL
    SELECT CAST(1 + 3 * (n.c + rn - 1) AS BIGINT), k, cents
    FROM odds CROSS JOIN n
    """,
)
def q_s79(spark, sf):
    """S79 — Delta IDENTITY COLUMNS (sources/delta_constraints.py,
    the ``identityColumns`` writer feature): a GENERATED ALWAYS id
    (``delta.identity.start/step`` field metadata) is ASSIGNED by the
    writer when the batch omits it — distributed two-pass numbering
    (range-partition + per-partition row_number + broadcast offsets,
    ``operators/relational.py global_index``; no single-task window)
    beyond the recorded high watermark, which commits ATOMICALLY with
    the rows (a crash between them could otherwise hand out duplicate
    ids). Two batches prove the watermark persists across commits
    (the second continues the arithmetic sequence exactly where the
    first stopped — start=1, step=3); an EXPLICIT id insert refuses
    (GENERATED ALWAYS — asserted, count unchanged). DuckDB recomputes
    every assigned id from the declared ordering; a watermark lost
    between batches, an id collision, or a step mis-applied breaks
    the hash. BY-DEFAULT mode and negative steps pinned by pytest."""
    import json as _json
    import os

    from .sources.delta import DeltaProtocolError, read_delta
    from .sources.delta_constraints import append_delta

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s79", sf)
    log = os.path.join(root, "_delta_log")
    os.makedirs(log)
    fields = [
        {"name": "id", "type": "long", "nullable": True,
         "metadata": {"delta.identity.start": 1,
                      "delta.identity.step": 3,
                      "delta.identity.allowExplicitInsert": False}},
        {"name": "c_custkey", "type": "long", "nullable": False,
         "metadata": {}},
        {"name": "cents", "type": "long", "nullable": True,
         "metadata": {}},
    ]
    with open(os.path.join(log, f"{0:020d}.json"), "w") as f:
        f.write(_json.dumps({"protocol": {
            "minReaderVersion": 1, "minWriterVersion": 7,
            "writerFeatures": ["identityColumns", "invariants"]}}) + "\n")
        f.write(_json.dumps({"metaData": {
            "id": "s79", "format": {"provider": "parquet",
                                    "options": {}},
            "schemaString": _json.dumps(
                {"type": "struct", "fields": fields}),
            "partitionColumns": [], "configuration": {},
        }}) + "\n")

    append_delta(spark, root, c.filter(k % 2 == 0),
                 identity_order=["c_custkey"])
    # the watermark persisted: batch 2 continues the exact sequence
    append_delta(spark, root, c.filter(k % 2 == 1),
                 identity_order=["c_custkey"])
    n = c.count()
    assert read_delta(spark, root).count() == n
    # GENERATED ALWAYS refuses an explicit id; nothing leaks
    try:
        append_delta(spark, root, c.limit(1).select(
            F.lit(999_999).alias("id"),
            (k + 8_000_000).alias("c_custkey"), "cents",
        ))
        raise AssertionError("explicit id must refuse")
    except DeltaProtocolError as e:
        assert "GENERATED ALWAYS" in str(e)
    assert read_delta(spark, root).count() == n
    return read_delta(spark, root)


@query(
    "s80_delta_delete_dv",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
    FROM customer
    WHERE NOT (c_custkey % 7 = 0)
      AND NOT (c_custkey % 11 = 3)
      AND NOT (c_custkey % 4 = 2)
    """,
)
def q_s80(spark, sf):
    """S80 — Delta DELETE via DELETION VECTORS
    (sources/delta_dml.py ``delete_from_delta``): the user-facing
    writer half of the engine's long-standing DV read path. The
    fixture lands a four-file table (one file per ``c_custkey % 4``
    bucket — plain minWriterVersion-2 log, no DV feature declared);
    delete #1 (``%7``) must UPGRADE the protocol (deletionVectors
    reader+writer feature, legacy-implied features enumerated) and set
    ``delta.enableDeletionVectors`` in the SAME commit while writing
    one roaring sidecar per touched file; delete #2 (``%11``) MERGES
    bitmaps on the same files (old ∪ new — asserted via descriptor
    cardinalities, and the overlap rows are never double-counted);
    delete #3 (``%4 = 2``) kills bucket-2's file ENTIRELY — removed
    outright, its fresh sidecar reclaimed. In-entry asserts pin that
    no data file was rewritten (mtimes), time travel at v0 still
    serves every row and at v1 exactly the post-first-delete state,
    and a no-op predicate commits nothing. DuckDB recomputes the
    surviving rows; a resurrected row, an off-by-one ordinal, or a
    lost bitmap container breaks the hash.

    Scale shape: finding doomed rows is ONE scan with the predicate
    pushed to parquet; DV serialization is per-touched-file on
    EXECUTORS (applyInPandas — the driver sees one summary row per
    file, never positions); the commit is O(touched files) metadata
    under the put-if-absent CAS with file-level conflict rules."""
    import json as _json
    import os

    from .sources.delta import _replay_log, read_delta
    from .sources.delta_dml import delete_from_delta

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s80", sf)
    log = os.path.join(root, "_delta_log")
    rels = _mk_bucketed_delta(spark, c, root, "s80")

    n = c.count()
    mtimes = {
        rel: os.path.getmtime(os.path.join(root, rel)) for rel in rels
    }
    out1 = delete_from_delta(spark, root, "c_custkey % 7 = 0")
    assert out1["version"] == 1 and out1["num_deleted"] > 0
    # the upgrade rode the same commit
    with open(os.path.join(log, f"{1:020d}.json")) as f:
        acts = [_json.loads(line) for line in f if line.strip()]
    protos = [a["protocol"] for a in acts if "protocol" in a]
    assert protos and "deletionVectors" in protos[0]["readerFeatures"]
    metas = [a["metaData"] for a in acts if "metaData" in a]
    assert metas[0]["configuration"][
        "delta.enableDeletionVectors"] == "true"

    out2 = delete_from_delta(spark, root, "c_custkey % 11 = 3")
    # bitmaps MERGED: total descriptor cardinality = all dead rows
    _m, _live, dvs, _last = _replay_log(root)
    n_dead = c.filter((k % 7 == 0) | (k % 11 == 3)).count()
    assert sum(d["cardinality"] for d in dvs.values()) == n_dead
    assert out1["num_deleted"] + out2["num_deleted"] == n_dead

    # whole-bucket predicate removes bucket-2's file outright
    out3 = delete_from_delta(spark, root, "c_custkey % 4 = 2")
    assert out3["files_removed"] == 1
    # no data file was ever rewritten
    for rel in rels[:2] + rels[3:]:
        assert os.path.getmtime(os.path.join(root, rel)) == mtimes[rel]
    # time travel: v0 full, v1 exactly post-first-delete
    assert read_delta(spark, root, version=0).count() == n
    assert read_delta(spark, root, version=1).count() == \
        n - c.filter(k % 7 == 0).count()
    # no-op delete commits nothing
    v = out3["version"]
    out4 = delete_from_delta(spark, root, "c_custkey < 0")
    assert out4 == {"version": v, "num_deleted": 0,
                    "files_with_dvs": 0, "files_removed": 0}
    return read_delta(spark, root)


@query(
    "s81_delta_merge_cdf",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           'update_preimage' AS change_type
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) + 1000 AS cents,
           'update_postimage' AS change_type
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey + 10000000 AS c_custkey,
           CAST(-1 AS BIGINT) AS cents,
           'insert' AS change_type
    FROM customer WHERE c_custkey % 97 = 0
    """,
)
def q_s81(spark, sf):
    """S81 — Delta-native MERGE INTO emitting the CHANGE DATA FEED
    (sources/delta_dml.py ``merge_delta``), replacing the parquet-era
    full-rewrite ``merge_upsert`` (s6) with the row-delta shape:
    matched rows die via deletion vectors on their files, updates +
    inserts land as new files, and — because the fixture enables
    ``delta.enableChangeDataFeed`` — the commit stages EXACT row
    images under ``_change_data/`` (update_preimage /
    update_postimage / insert), never deriving spurious pairs from
    carried rows. The QUERY RESULT is the change feed of the merge
    version read back through the s28 reader
    (``read_delta_changes``); DuckDB recomputes the same diff from
    the base table directly, so a carried row leaking into the feed,
    a lost pre-image, or a wrong post-image value breaks the hash.
    In-entry asserts pin the post-merge SNAPSHOT too (updates applied,
    inserts present, carried rows untouched, time travel intact) and
    the duplicate-source-key refusal (ANSI MERGE rule). The racing
    conflict rules (disjoint append rebases / overlapping file
    raises) are pinned in tests/test_delta_dml.py.

    Scale shape: ONE source-sized join against the target scan
    (persisted — every downstream frame projects from it), DV sidecars
    per touched file on executors, O(changed rows) new data — never a
    table rewrite."""
    import os

    from .sources.delta import (
        DeltaProtocolError,
        read_delta,
        read_delta_changes,
    )
    from .sources.delta_dml import merge_delta

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s81", sf)
    rels = _mk_bucketed_delta(
        spark, c, root, "s81", n_buckets=3,
        configuration={"delta.enableChangeDataFeed": "true"},
    )

    n = c.count()
    src = (
        c.filter(k % 5 == 0)
        .select("c_custkey", (F.col("cents") + 1000).alias("cents"))
        .unionByName(
            c.filter(k % 97 == 0).select(
                (k + 10_000_000).alias("c_custkey"),
                F.lit(-1).cast("long").alias("cents"),
            )
        )
    )
    out = merge_delta(spark, root, src, on=["c_custkey"])
    n_upd = c.filter(k % 5 == 0).count()
    n_ins = c.filter(k % 97 == 0).count()
    assert out["num_updated"] == n_upd and out["num_inserted"] == n_ins
    # post-merge SNAPSHOT: updates applied, inserts present, carried
    # rows untouched, history intact
    snap = read_delta(spark, root)
    assert snap.count() == n + n_ins
    assert snap.filter(
        (k % 5 == 0) & (k < 10_000_000)
    ).agg(F.sum("cents")).collect()[0][0] == (
        c.filter(k % 5 == 0).agg(F.sum("cents")).collect()[0][0]
        + 1000 * n_upd
    )
    assert snap.filter(k >= 10_000_000).count() == n_ins
    assert read_delta(spark, root, version=0).count() == n
    # duplicate source keys refuse (ANSI MERGE) — explicit literal
    # rows: limit(1) twice could pick two DIFFERENT rows and slip past
    dup = local_frame(
        spark, [(1, 1), (1, 2)], "c_custkey bigint, cents bigint"
    )
    try:
        merge_delta(spark, root, dup, on=["c_custkey"])
        raise AssertionError("duplicate-key merge must refuse")
    except DeltaProtocolError as e:
        assert "duplicate key" in str(e)
    # the RESULT is the replayed change feed of the merge commit
    return read_delta_changes(
        spark, root, out["version"], out["version"]
    ).select(
        "c_custkey", "cents",
        F.col("_change_type").alias("change_type"),
    )


@query(
    "s82_iceberg_merge",
    oracle="""
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT)
             + CASE WHEN c_custkey % 6 = 0 THEN 500 ELSE 0 END AS cents,
           'state' AS tag
    FROM customer
    UNION ALL
    SELECT c_custkey + 20000000 AS c_custkey,
           CAST(-7 AS BIGINT) AS cents, 'state' AS tag
    FROM customer WHERE c_custkey % 89 = 0
    UNION ALL
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) AS cents,
           'delete' AS tag
    FROM customer WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey,
           CAST(floor(c_acctbal * 100) AS BIGINT) + 500 AS cents,
           'insert' AS tag
    FROM customer WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey + 20000000 AS c_custkey,
           CAST(-7 AS BIGINT) AS cents, 'insert' AS tag
    FROM customer WHERE c_custkey % 89 = 0
    """,
)
def q_s82(spark, sf):
    """S82 — Iceberg MERGE as one ROW-DELTA snapshot
    (sources/iceberg_dml.py ``merge_iceberg``): matched rows become a
    POSITION-DELETE file (spec-sorted by (file_path, pos)), their
    replacement values plus the not-matched inserts become new data
    files, and both land in ONE v2 snapshot — the delete manifest
    (content=1) and the data manifest (content=0) both stamped with
    the NEW snapshot's sequence number, so the pos-deletes (which
    target (path, ordinal) pairs of the OLD files) can never shadow
    the same snapshot's fresh appends. The result hashes BOTH
    verification surfaces at once: the NET STATE rows (tag 'state',
    read through the ordinary delete-applying scan) UNION the s47
    CHANGELOG REPLAY of the merge snapshot (tags 'delete'/'insert' —
    ``read_iceberg_changelog`` replays the struck rows of continuing
    files as deletes and the new files' rows as inserts). DuckDB
    recomputes both from the base table; a shadowed append, a carried
    row leaking into the changelog, or a resurrected struck row breaks
    the hash. In-entry asserts pin time travel to the base snapshot,
    the one-snapshot sequence-number shape, and the duplicate-key
    refusal; CAS refresh-retry and equality-delete interplay are
    pinned in tests/test_iceberg_dml.py.

    Scale: ONE source-sized join against the snapshot scan (existing
    pos/eq/DV deletes already applied by ``read_iceberg``'s
    machinery); the delete parquet is |matched| rows; the commit is
    the format's metadata CAS."""
    import json as _json
    import os

    from .sources.iceberg import (
        IcebergProtocolError,
        _latest_metadata_path,
        _localize,
        export_iceberg,
        read_avro,
        read_iceberg,
        read_iceberg_changelog,
    )
    from .sources.iceberg_dml import merge_iceberg
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s82", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=4,
    )
    t.append(c)
    sid0 = export_iceberg(t)
    n = c.count()

    src = (
        c.filter(k % 6 == 0)
        .select("c_custkey", (F.col("cents") + 500).alias("cents"))
        .unionByName(
            c.filter(k % 89 == 0).select(
                (k + 20_000_000).alias("c_custkey"),
                F.lit(-7).cast("long").alias("cents"),
            )
        )
    )
    out = merge_iceberg(spark, root, src, on=["c_custkey"])
    n_upd = c.filter(k % 6 == 0).count()
    n_ins = c.filter(k % 89 == 0).count()
    assert out["num_updated"] == n_upd and out["num_inserted"] == n_ins

    # ONE snapshot: delete + data manifests share ITS sequence number
    with open(_latest_metadata_path(root)) as f:
        meta = _json.load(f)
    snap = next(
        s for s in meta["snapshots"]
        if s["snapshot-id"] == out["snapshot_id"]
    )
    assert snap["parent-snapshot-id"] == sid0
    assert snap["summary"]["operation"] == "overwrite"
    _s, mfs = read_avro(_localize(snap["manifest-list"], root))
    new_mfs = [
        m for m in mfs
        if m.get("added_snapshot_id") == out["snapshot_id"]
    ]
    assert sorted(m["content"] for m in new_mfs) == [0, 1]
    assert all(
        m["sequence_number"] == out["snapshot_id"] for m in new_mfs
    )
    # time travel to the pre-merge snapshot is intact
    assert read_iceberg(spark, root, snapshot_id=sid0).count() == n
    # duplicate source keys refuse (ANSI MERGE) — explicit literal
    # rows: limit(1) twice could pick two DIFFERENT rows and slip past
    dup = local_frame(
        spark, [(1, 1), (1, 2)], "c_custkey bigint, cents bigint"
    )
    try:
        merge_iceberg(spark, root, dup, on=["c_custkey"])
        raise AssertionError("duplicate-key merge must refuse")
    except IcebergProtocolError as e:
        assert "duplicate key" in str(e)

    state = read_iceberg(spark, root).select(
        "c_custkey", "cents", F.lit("state").alias("tag")
    )
    changelog = read_iceberg_changelog(
        spark, root, from_snapshot_id=sid0,
        to_snapshot_id=out["snapshot_id"],
    ).select("c_custkey", "cents", F.col("_change_type").alias("tag"))
    return state.unionByName(changelog)


@query(
    "s83_delta_update_dv",
    oracle="""
    WITH base AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ), u1 AS (
        SELECT c_custkey,
               cents + CASE WHEN c_custkey % 5 = 0
                            THEN 1000 ELSE 0 END AS cents
        FROM base
    )
    SELECT c_custkey,
           CASE WHEN cents < 0 THEN CAST(0 AS BIGINT)
                ELSE cents END AS cents
    FROM u1
    """,
)
def q_s83(spark, sf):
    """S83 — Delta UPDATE via DELETION VECTORS + CDF
    (sources/delta_dml.py ``update_delta``): the third leg of the
    row-level DML triple (s80 DELETE / s81 MERGE). SET expressions
    evaluate against the PRE-update row, matched rows die via DV
    sidecars on their files (never a rewrite of carried rows), and
    the updated values land as new files in the SAME commit. The
    entry runs TWO stacked updates — a keyed raise (``%5``) then a
    predicate clamp over the post-update state (``cents < 0 → 0``,
    the reference notebook's clip/reassign shape, py:150-166) — so
    the second update's DVs MERGE onto files the first already
    touched and its predicate provably reads update #1's output.
    DuckDB recomputes the two-step fold; in-entry asserts pin that no
    data file was rewritten (mtimes), time travel at v0 serves the
    original rows, both updates' CDF images are exact
    (update_preimage/update_postimage per row), and a no-op
    predicate commits nothing.

    Scale: ONE persisted hit-scan per update serves the DV positions
    AND both CDF image sets; DV serialization is per-touched-file on
    executors; the commit is O(touched files) metadata under the
    file-level CAS."""
    import os

    from .sources.delta import read_delta, read_delta_changes
    from .sources.delta_dml import update_delta

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s83", sf)
    rels = _mk_bucketed_delta(
        spark, c, root, "s83",
        configuration={"delta.enableChangeDataFeed": "true"},
    )

    n = c.count()
    mtimes = {
        rel: os.path.getmtime(os.path.join(root, rel)) for rel in rels
    }
    out1 = update_delta(
        spark, root, "c_custkey % 5 = 0", {"cents": "cents + 1000"}
    )
    n_u1 = c.filter(k % 5 == 0).count()
    assert out1["version"] == 1 and out1["num_updated"] == n_u1
    cdf1 = read_delta_changes(spark, root, 1, 1)
    from collections import Counter as _Counter

    ct1 = _Counter(
        r["_change_type"] for r in cdf1.select("_change_type").collect()
    )
    assert ct1 == {"update_preimage": n_u1, "update_postimage": n_u1}

    # update #2 reads update #1's OUTPUT: clamp the post-raise state
    n_u2 = (
        read_delta(spark, root).filter(F.col("cents") < 0).count()
    )
    out2 = update_delta(spark, root, "cents < 0", {"cents": "0"})
    assert out2["num_updated"] == n_u2
    ct2 = _Counter(
        r["_change_type"]
        for r in read_delta_changes(
            spark, root, out2["version"], out2["version"]
        ).select("_change_type").collect()
    )
    assert ct2 == {"update_preimage": n_u2, "update_postimage": n_u2}

    # no data file was ever rewritten; time travel intact
    for rel in rels:
        assert os.path.getmtime(os.path.join(root, rel)) == mtimes[rel]
    assert read_delta(spark, root, version=0).count() == n
    # a predicate matching nothing commits nothing
    out3 = update_delta(spark, root, "c_custkey < 0", {"cents": "1"})
    assert out3 == {"version": out2["version"], "num_updated": 0,
                    "files_with_dvs": 0, "files_removed": 0}
    return read_delta(spark, root).select("c_custkey", "cents")


@query(
    "s84_iceberg_delete",
    oracle="""
    WITH base AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    )
    SELECT c_custkey, cents, 'state' AS tag FROM base
    WHERE NOT (c_custkey % 7 = 0) AND NOT (cents < 0)
    UNION ALL
    SELECT c_custkey, cents, 'delete1' AS tag FROM base
    WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey, cents, 'delete2' AS tag FROM base
    WHERE cents < 0 AND NOT (c_custkey % 7 = 0)
    """,
)
def q_s84(spark, sf):
    """S84 — Iceberg DELETE as a ROW-DELTA snapshot
    (sources/iceberg_dml.py ``delete_from_iceberg``): the doomed
    rows' (file, ordinal) pairs land as ONE position-delete file
    whose manifest carries the new snapshot's sequence number — no
    data file rewritten, prior snapshots untouched. The entry stacks
    TWO deletes (``%7`` then ``cents < 0``) and hashes the NET STATE
    plus BOTH changelog replays tagged separately ('delete1' /
    'delete2') — proving the second delete's scan saw the first's
    deletes already applied (a dead row re-deleted would duplicate
    into 'delete2' and break the hash; DuckDB's tag-2 set explicitly
    excludes tag-1 rows). In-entry asserts pin time travel to the
    base snapshot and the no-op rule; CAS retry and the shared
    stage-cleanup path are pinned in tests/test_iceberg_dml.py.

    Scale: each delete is ONE predicate scan over the current
    snapshot (existing deletes applied by ``read_iceberg``'s
    machinery, predicate pushed to parquet); the pos-delete parquet
    is |matched| rows; the commit is the format's metadata CAS."""
    from .sources.iceberg import (
        export_iceberg,
        read_iceberg,
        read_iceberg_changelog,
    )
    from .sources.iceberg_dml import delete_from_iceberg
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s84", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=4,
    )
    t.append(c)
    sid0 = export_iceberg(t)
    n = c.count()

    out1 = delete_from_iceberg(spark, root, "c_custkey % 7 = 0")
    assert out1["num_deleted"] == c.filter(k % 7 == 0).count()
    sid1 = out1["snapshot_id"]
    out2 = delete_from_iceberg(spark, root, "cents < 0")
    # the second delete never re-deletes the first's dead rows
    assert out2["num_deleted"] == c.filter(
        (F.col("cents") < 0) & ~(k % 7 == 0)
    ).count()
    # time travel: the base snapshot still serves every row
    assert read_iceberg(spark, root, snapshot_id=sid0).count() == n
    # no-op commits nothing
    out3 = delete_from_iceberg(spark, root, "c_custkey < 0")
    assert out3 == {"snapshot_id": out2["snapshot_id"],
                    "num_deleted": 0}

    state = read_iceberg(spark, root).select(
        "c_custkey", "cents", F.lit("state").alias("tag")
    )
    cl1 = read_iceberg_changelog(
        spark, root, from_snapshot_id=sid0, to_snapshot_id=sid1
    ).select("c_custkey", "cents", F.lit("delete1").alias("tag"))
    cl2 = read_iceberg_changelog(
        spark, root, from_snapshot_id=sid1,
        to_snapshot_id=out2["snapshot_id"],
    ).select("c_custkey", "cents", F.lit("delete2").alias("tag"))
    return state.unionByName(cl1).unionByName(cl2)


@query(
    "s85_iceberg_update",
    oracle="""
    WITH base AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    )
    SELECT c_custkey,
           cents + CASE WHEN c_custkey % 6 = 0
                        THEN 250 ELSE 0 END AS cents,
           'state' AS tag
    FROM base
    UNION ALL
    SELECT c_custkey, cents, 'delete' AS tag
    FROM base WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey, cents + 250 AS cents, 'insert' AS tag
    FROM base WHERE c_custkey % 6 = 0
    """,
)
def q_s85(spark, sf):
    """S85 — Iceberg UPDATE as a ROW-DELTA snapshot
    (sources/iceberg_dml.py ``update_iceberg``): completes the
    UPDATE/DELETE/MERGE x Delta/Iceberg matrix. Matched rows' (file,
    ordinal) pairs become a position-delete file and their SET-applied
    values (evaluated against the PRE-update row) land as new data
    files — one snapshot, both manifests at its sequence number,
    shared ``_stage_and_commit`` engine with s82/s84. The oracle
    hashes the NET STATE plus the changelog replay of the update
    snapshot (struck old rows as 'delete', rewritten rows as
    'insert'); a shadowed rewrite, a resurrected old row, or a
    double-applied SET breaks the hash. In-entry asserts pin
    num_updated, time travel to the base snapshot, and the no-op
    rule; swap semantics and stacking are pinned in
    tests/test_iceberg_dml.py.

    Scale: one predicate scan (pushed to parquet, existing deletes
    applied) + O(updated rows) new data + a |matched|-row pos-delete
    parquet; commit is the metadata CAS."""
    from .sources.iceberg import (
        export_iceberg,
        read_iceberg,
        read_iceberg_changelog,
    )
    from .sources.iceberg_dml import update_iceberg
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s85", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=4,
    )
    t.append(c)
    sid0 = export_iceberg(t)
    n = c.count()

    out = update_iceberg(
        spark, root, "c_custkey % 6 = 0", {"cents": "cents + 250"}
    )
    assert out["num_updated"] == c.filter(k % 6 == 0).count()
    assert read_iceberg(spark, root, snapshot_id=sid0).count() == n
    out2 = update_iceberg(spark, root, "c_custkey < 0", {"cents": "1"})
    assert out2 == {"snapshot_id": out["snapshot_id"],
                    "num_updated": 0}

    state = read_iceberg(spark, root).select(
        "c_custkey", "cents", F.lit("state").alias("tag")
    )
    changelog = read_iceberg_changelog(
        spark, root, from_snapshot_id=sid0,
        to_snapshot_id=out["snapshot_id"],
    ).select("c_custkey", "cents", F.col("_change_type").alias("tag"))
    return state.unionByName(changelog)


@query(
    "s86_hudi_delete",
    oracle="""
    WITH base AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    )
    SELECT c_custkey, cents, 'state' AS tag FROM base
    WHERE NOT (c_custkey % 7 = 0) AND NOT (cents < 0)
    UNION ALL
    SELECT c_custkey, cents, 'delete1' AS tag
    FROM base WHERE c_custkey % 7 = 0
    UNION ALL
    SELECT c_custkey, cents, 'delete2' AS tag
    FROM base WHERE cents < 0 AND NOT (c_custkey % 7 = 0)
    """,
)
def q_s86(spark, sf):
    """S86 — Hudi row-level DELETE via TOMBSTONE BLOCKS
    (sources/hudi_export.py ``delete_from_hudi``): extends the DML
    matrix to the log-structured format. Each doomed record key lands
    in a DELETE block appended to its file group's log chain (the
    shared ``_group_log_path`` routing — pending-compaction chains
    included) under one deltacommit whose lifecycle is requested ->
    blocks -> inflight -> completed (the requested marker is the
    put-if-absent claim). The entry stacks TWO deletes (``%7`` then
    ``cents < 0``) and hashes the NET STATE plus BOTH deletes'
    RFC-51 CDC before-images tagged separately ('delete1'/'delete2')
    — the second delete's scan reads through the same MOR fold every
    reader uses, so a dead row can never re-tombstone (it would
    duplicate into 'delete2' and break the hash). In-entry asserts
    pin time travel to the pre-delete instant, that no base file was
    rewritten, and the no-op rule; event-time orderingVal stamping,
    COW refusal, compaction-chain routing, and the requested-claim
    race are pinned in tests/test_hudi_export.py.

    Scale: one predicate-filtered MOR fold, tombstone bytes are
    O(deleted keys) written per-group on EXECUTORS, commit is three
    timeline markers."""
    import os

    from .sources.hudi import read_hudi, read_hudi_changes
    from .sources.hudi_export import delete_from_hudi, export_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s86", sf)
    dest = _table_root("s86h", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=4,
    )
    t.append(c)
    inst0 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    n = c.count()
    bases = sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    )

    out1 = delete_from_hudi(spark, dest, "c_custkey % 7 = 0")
    assert out1["num_deleted"] == c.filter(k % 7 == 0).count()
    out2 = delete_from_hudi(spark, dest, "cents < 0")
    assert out2["num_deleted"] == c.filter(
        (F.col("cents") < 0) & ~(k % 7 == 0)
    ).count()
    # no base file rewritten; time travel intact; no-op commits nothing
    assert sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    ) == bases
    assert read_hudi(spark, dest, as_of=inst0).count() == n
    out3 = delete_from_hudi(spark, dest, "c_custkey < 0")
    assert out3 == {"instant": None, "num_deleted": 0, "groups": 0}

    state = read_hudi(spark, dest).select(
        "c_custkey", "cents", F.lit("state").alias("tag")
    )

    def images(begin, end, tag):
        return read_hudi_changes(
            spark, dest, begin=begin, end=end
        ).filter(F.col("op") == "d").select(
            F.col("before.c_custkey").alias("c_custkey"),
            F.col("before.cents").alias("cents"),
            F.lit(tag).alias("tag"),
        )

    return state.unionByName(
        images(inst0, out1["instant"], "delete1")
    ).unionByName(images(out1["instant"], out2["instant"], "delete2"))


@query(
    "s87_hudi_update",
    oracle="""
    WITH base AS (
        SELECT c_custkey,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS cents
        FROM customer
    ), u1 AS (
        SELECT c_custkey,
               cents + CASE WHEN c_custkey % 6 = 0
                            THEN 300 ELSE 0 END AS cents
        FROM base
    )
    SELECT c_custkey,
           CASE WHEN cents < 0 THEN CAST(0 AS BIGINT)
                ELSE cents END AS cents,
           'state' AS tag
    FROM u1
    UNION ALL
    SELECT c_custkey, cents + 300 AS cents, 'u1' AS tag
    FROM base WHERE c_custkey % 6 = 0
    UNION ALL
    SELECT c_custkey, CAST(0 AS BIGINT) AS cents, 'u2' AS tag
    FROM u1 WHERE cents < 0
    """,
)
def q_s87(spark, sf):
    """S87 — Hudi row-level UPDATE via UPSERT BLOCKS
    (sources/hudi_export.py ``update_hudi``): completes the DML
    matrix's Hudi column (s86 DELETE / s87 UPDATE). Each matched
    row's SET-applied values (pre-update-row evaluation) land as one
    avro upsert block appended to the row's OWN file group's log
    chain — the group is known from the scan, no index lookup — via
    the shared ``_commit_log_dml`` lifecycle (requested claim,
    clustering gate, compaction-chain routing). TWO stacked updates
    fold (a keyed raise then a clamp over the post-update state —
    update #2's scan provably reads update #1's upsert blocks), and
    the oracle hashes the NET STATE plus BOTH updates' RFC-51 CDC
    AFTER-images tagged separately. In-entry asserts pin
    num_updated, time travel to the base instant, no base-file
    rewrite, and the no-op rule; record-key/partition/event-time
    refusals and compaction survival are pinned in
    tests/test_hudi_export.py.

    Scale: one predicate-filtered MOR fold per update + O(updated
    rows) avro bytes per-group on executors; commit is three timeline
    markers."""
    import os

    from .sources.hudi import read_hudi, read_hudi_changes
    from .sources.hudi_export import export_hudi, update_hudi
    from .sources.table import SnapshotTable

    c = read_table(spark, sf, "customer").select(
        "c_custkey",
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("cents"),
    )
    k = F.col("c_custkey")
    root = _table_root("s87", sf)
    dest = _table_root("s87h", sf)
    t = SnapshotTable.create(
        spark, root, "c_custkey bigint, cents bigint",
        bucket_key=["c_custkey"], num_buckets=4,
    )
    t.append(c)
    inst0 = export_hudi(t, dest, table_type="MERGE_ON_READ")
    n = c.count()
    bases = sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    )

    out1 = update_hudi(
        spark, dest, "c_custkey % 6 = 0", {"cents": "cents + 300"}
    )
    assert out1["num_updated"] == c.filter(k % 6 == 0).count()
    n_u2 = read_hudi(spark, dest).filter(F.col("cents") < 0).count()
    out2 = update_hudi(spark, dest, "cents < 0", {"cents": "0"})
    assert out2["num_updated"] == n_u2
    # no base rewrite, time travel, no-op
    assert sorted(
        f for f in os.listdir(dest) if f.endswith(".parquet")
    ) == bases
    assert read_hudi(spark, dest, as_of=inst0).count() == n
    out3 = update_hudi(spark, dest, "c_custkey < 0", {"cents": "1"})
    assert out3 == {"instant": None, "num_updated": 0, "groups": 0}

    state = read_hudi(spark, dest).select(
        "c_custkey", "cents", F.lit("state").alias("tag")
    )

    def images(begin, end, tag):
        return read_hudi_changes(
            spark, dest, begin=begin, end=end
        ).filter(F.col("op") == "u").select(
            F.col("after.c_custkey").alias("c_custkey"),
            F.col("after.cents").alias("cents"),
            F.lit(tag).alias("tag"),
        )

    return state.unionByName(
        images(inst0, out1["instant"], "u1")
    ).unionByName(images(out1["instant"], out2["instant"], "u2"))

"""Reference relational operators (SURVEY.md §2.2-2.6) over testdata.

Each entry re-expresses one reference query shape (cited per function)
against the driver's TPC-H-ish tables, as a Catalyst DataFrame plan
plus an equivalent DuckDB oracle SQL string. Mapping (SURVEY.md §5.2):
api_key→customer, request→orders, page→lineitem/events, engine
dims→nation/region.

Scale notes: dimension sides (customer at TPC-H scale, engine dims)
are broadcast by Catalyst under the configured threshold; every
aggregate here is partial-aggregated map-side; all top-1 patterns use
windows (single shuffle on the partition key), never global sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pero_ocr_api_spark.functions.portable import (
    duckdb_round_bin,
    round_bin,
    sorted_median,
)
from pero_ocr_api_spark.sources.tables import read_table

# pinned "now" stand-ins (tests/oracles must be reproducible — the
# reference uses datetime.utcnow(), e.g. general.py:41,106,190)
EVENTS_NOW = "2024-01-16 00:00:00"
EVENTS_DAY_AGO = "2024-01-15 00:00:00"
ORDERS_FROM = "1996-01-01"

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --- A5: state histogram (general.py:188-207) -----------------------------
def q_state_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """24h-window scan + histogram with zero-fill of missing states.

    Reference pulls rows to the client and fills a Python dict
    (general.py:196-204); here the zero-fill is a left join from the
    literal state list and the count is a plain groupBy.
    """
    events = read_table(spark, sf, "events")
    counts = (
        events.filter(
            (F.col("ts") >= F.lit(EVENTS_DAY_AGO)) & (F.col("ts") < F.lit(EVENTS_NOW))
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
    )
    all_types = spark.createDataFrame(
        [(t,) for t in EVENT_TYPES], "event_type string"
    )
    return (
        all_types.join(counts, "event_type", "left")
        .select(
            "event_type", F.coalesce("cnt", F.lit(0)).alias("n_events")
        )
    )


SQL_STATE_HISTOGRAM = f"""
WITH counts AS (
  SELECT event_type, count(*) AS cnt FROM events
  WHERE ts >= TIMESTAMP '{EVENTS_DAY_AGO}' AND ts < TIMESTAMP '{EVENTS_NOW}'
  GROUP BY event_type
)
SELECT t.event_type, coalesce(c.cnt, 0) AS n_events
FROM (VALUES {", ".join(f"('{t}')" for t in EVENT_TYPES)}) AS t(event_type)
LEFT JOIN counts c USING (event_type)
"""


# --- J5/A4: usage statistics (general.py:177-184) --------------------------
ISO_FROM = "1996-01-01T00:00:00"  # routes.py:69,76 isoparse(request.args[...])
ISO_TO = "1998-01-01T00:00:00"
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss"


def q_usage_statistics(spark: SparkSession, sf: str) -> DataFrame:
    """Per-tenant processed-page count between the ISO-8601 bounds
    ISO_FROM and ISO_TO, parsed in-query exactly like the route's
    isoparse of the from/to params (routes.py:64-80) —
    ``to_timestamp_ntz`` keeps the comparison timezone-independent
    against TimestampNTZ parquet."""
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    lineitem = read_table(spark, sf, "lineitem")
    lo = F.to_timestamp_ntz(F.lit(ISO_FROM), F.lit(ISO_FMT))
    hi = F.to_timestamp_ntz(F.lit(ISO_TO), F.lit(ISO_FMT))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_pages"))
    )


SQL_USAGE_STATISTICS = f"""
SELECT c_mktsegment, count(*) AS n_pages
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate >= strptime('{ISO_FROM}', '%Y-%m-%dT%H:%M:%S')
  AND o_orderdate < strptime('{ISO_TO}', '%Y-%m-%dT%H:%M:%S')
GROUP BY c_mktsegment
"""


# --- J3/O1: fair-scheduler FIFO dequeue (general.py:112-151) ---------------
def q_fair_dequeue(spark: SparkSession, sf: str) -> DataFrame:
    """Batch analog of the FIFO dequeue: per tenant, the single oldest
    WAITING item (ORDER BY waiting_timestamp LIMIT 1 per key —
    general.py:126-127) via a window, one shuffle on the key."""
    orders = read_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("first_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_date"),
        )
    )


SQL_FAIR_DEQUEUE = """
SELECT o_custkey, o_orderkey AS first_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS first_date
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders WHERE o_orderstatus = 'O'
) WHERE rn = 1
"""


# --- J2/A3: processed counts with default 0 (general.py:102-109) -----------
def q_processed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Per-key processed count in window; keys with none default to 0
    (reference defaultdict at general.py:107-109)."""
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    counts = (
        orders.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate") >= F.lit(ORDERS_FROM))
        )
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    return customer.join(
        counts, customer.c_custkey == counts.o_custkey, "left"
    ).select("c_custkey", F.coalesce("cnt", F.lit(0)).alias("n_processed"))


SQL_PROCESSED_COUNTS = f"""
SELECT c_custkey, coalesce(cnt, 0) AS n_processed
FROM customer LEFT JOIN (
  SELECT o_custkey, count(*) AS cnt FROM orders
  WHERE o_orderstatus = 'F' AND o_orderdate >= TIMESTAMP '{ORDERS_FROM} 00:00:00'
  GROUP BY o_custkey
) ON c_custkey = o_custkey
"""


# --- A6: argmin fair key (general.py:120,135) -------------------------------
def q_argmin_fair_key(spark: SparkSession, sf: str) -> DataFrame:
    """Key with the fewest processed items, deterministic tie-break
    (reference min() over a dict — client-side argmin)."""
    return (
        q_processed_counts(spark, sf)
        .orderBy("n_processed", "c_custkey")
        .limit(1)
    )


SQL_ARGMIN_FAIR_KEY = (
    SQL_PROCESSED_COUNTS.rstrip()
    + "\nORDER BY n_processed, c_custkey LIMIT 1"
)


# --- J1: keys that have waiting work (general.py:92-99) ---------------------
def q_keys_with_waiting(spark: SparkSession, sf: str) -> DataFrame:
    """3-way join + filter + distinct key list."""
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    lineitem = read_table(spark, sf, "lineitem")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter((F.col("o_orderstatus") == "O") & (F.col("l_returnflag") == "N"))
        .select("c_custkey")
        .distinct()
    )


SQL_KEYS_WITH_WAITING = """
SELECT DISTINCT c_custkey
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderstatus = 'O' AND l_returnflag = 'N'
"""


# --- A1/A10: completion ratio (general.py:48-55) ----------------------------
def q_completion_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """Per request: total pages, done pages, ratio (computed in Python
    in the reference; one aggregate here)."""
    lineitem = read_table(spark, sf, "lineitem")
    return (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(
                F.when(F.col("l_linestatus") == "F", 1).otherwise(0)
            ).alias("n_done"),
        )
        .select(
            "l_orderkey",
            "n_items",
            "n_done",
            round_bin(F.col("n_done") / F.col("n_items"), 4).alias("ratio"),
        )
    )


SQL_COMPLETION_RATIO = """
SELECT l_orderkey, count(*) AS n_items,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_done,
       {ratio} AS ratio
FROM lineitem GROUP BY l_orderkey
""".format(
    ratio=duckdb_round_bin(
        "sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) / count(*)", 4
    )
)


# --- A2: score aggregate over processed items (general.py:53) --------------
def q_avg_score(spark: SparkSession, sf: str) -> DataFrame:
    """Reference computes func.avg(score); emitted here as
    (rounded sum, count) — a true average can land exactly on a
    rounding boundary where engines disagree by one ulp of sum order
    (see functions/portable.py), while a sum of 2-decimal prices
    cannot."""
    orders = read_table(spark, sf, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_custkey")
        .agg(
            round_bin(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count("*").alias("n_orders"),
        )
    )


SQL_AVG_SCORE = f"""
SELECT o_custkey, {duckdb_round_bin('sum(o_totalprice)', 2)} AS total_price,
       count(*) AS n_orders
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
"""


# --- J7/A7/O2: latest version max-by (general.py:272-278) -------------------
def q_latest_version(spark: SparkSession, sf: str) -> DataFrame:
    """ORDER BY id DESC LIMIT 1 per group — the reference runs this in
    an N+1 loop per engine (general.py:70-77); one window here."""
    supplier = read_table(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_suppkey"))
    return (
        supplier.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "s_nationkey",
            F.col("s_suppkey").alias("latest_suppkey"),
            F.col("s_name").alias("latest_name"),
        )
    )


SQL_LATEST_VERSION = """
SELECT s_nationkey, s_suppkey AS latest_suppkey, s_name AS latest_name
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY s_nationkey ORDER BY s_suppkey DESC) AS rn
  FROM supplier
) WHERE rn = 1
"""


# --- F9 / routes.py:151-153: request status projection ----------------------
def q_request_status(spark: SparkSession, sf: str) -> DataFrame:
    orders = read_table(spark, sf, "orders")
    return orders.filter(F.col("o_custkey") == 42).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


SQL_REQUEST_STATUS = """
SELECT o_orderkey, o_orderstatus, o_totalprice
FROM orders WHERE o_custkey = 42
"""


# --- U7: expiry scan (app/__init__.py:127-156) -------------------------------
def q_expiry_scan(spark: SparkSession, sf: str) -> DataFrame:
    """finish_timestamp < now - 7 days AND state == PROCESSED →
    EXPIRED; timestamp filter is partition-pruning friendly."""
    orders = read_table(spark, sf, "orders")
    return (
        orders.filter(
            (F.col("o_orderdate") < F.lit(ORDERS_FROM))
            & (F.col("o_orderstatus") == "F")
        )
        .select("o_orderkey", F.lit("EXPIRED").alias("new_state"))
    )


SQL_EXPIRY_SCAN = f"""
SELECT o_orderkey, 'EXPIRED' AS new_state
FROM orders
WHERE o_orderdate < TIMESTAMP '{ORDERS_FROM} 00:00:00' AND o_orderstatus = 'F'
"""


# --- U6: timeout requeue (app/__init__.py:76-124) ----------------------------
def q_timeout_requeue(spark: SparkSession, sf: str) -> DataFrame:
    events = read_table(spark, sf, "events")
    return (
        events.filter(
            (F.col("event_type") == "error") & (F.col("ts") < F.lit(EVENTS_DAY_AGO))
        )
        .select("event_id", F.lit("WAITING").alias("new_state"))
    )


SQL_TIMEOUT_REQUEUE = f"""
SELECT event_id, 'WAITING' AS new_state
FROM events
WHERE event_type = 'error' AND ts < TIMESTAMP '{EVENTS_DAY_AGO}'
"""


# --- U5: cancel anti-join (general.py:58-67) ---------------------------------
def q_cancel_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """Pages of canceled requests excluded before processing."""
    orders = read_table(spark, sf, "orders")
    lineitem = read_table(spark, sf, "lineitem")
    canceled = orders.filter(F.col("o_orderstatus") == "P").select("o_orderkey")
    return (
        lineitem.join(
            canceled, lineitem.l_orderkey == canceled.o_orderkey, "left_anti"
        )
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n_live"))
    )


SQL_CANCEL_ANTI_JOIN = """
SELECT l_returnflag, count(*) AS n_live
FROM lineitem
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_orderstatus = 'P' AND o_orderkey = l_orderkey)
GROUP BY l_returnflag
"""


# --- F1/F2: point lookup with limit (general.py:16-25) -----------------------
def q_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    customer = read_table(spark, sf, "customer")
    return customer.filter(F.col("c_custkey") == 42).limit(1).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


SQL_POINT_LOOKUP = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey = 42 LIMIT 1
"""


# --- F1 fidelity edge: malformed-key guard (general.py:16-25) -----------------
# The reference wraps every point lookup in try/except StatementError:
# a malformed UUID string parses to None and the lookup returns no row
# instead of erroring. The relational analog: keys arrive as *strings*
# from the API layer; try_cast-to-null turns a malformed key into a
# no-match (and Spark 4's ANSI mode would otherwise throw on the cast).
MALFORMED_PROBE_KEYS = ("42", "977", "12x34", "", "-7", "9999999999999999999999")


def q_point_lookup_malformed(spark: SparkSession, sf: str) -> DataFrame:
    customer = read_table(spark, sf, "customer")
    probes = spark.createDataFrame(
        [(k,) for k in MALFORMED_PROBE_KEYS], "key_str string"
    )
    parsed = probes.select(
        "key_str",
        F.col("key_str").try_cast("long").alias("key_id"),
    )
    return (
        parsed.join(
            customer.select(F.col("c_custkey").alias("key_id"), "c_name"),
            "key_id",
            "left",
        )
        .select(
            "key_str",
            F.col("key_id").isNotNull().alias("well_formed"),
            F.col("c_name").isNotNull().alias("found"),
        )
    )


SQL_POINT_LOOKUP_MALFORMED = f"""
WITH probes AS (
  SELECT * FROM (VALUES {', '.join(f"('{k}')" for k in MALFORMED_PROBE_KEYS)})
  AS p(key_str)
),
parsed AS (SELECT key_str, TRY_CAST(key_str AS BIGINT) AS key_id FROM probes)
SELECT p.key_str, p.key_id IS NOT NULL AS well_formed,
       c.c_name IS NOT NULL AS found
FROM parsed p LEFT JOIN customer c ON c.c_custkey = p.key_id
"""


# --- F10: IN-list state filter (general.py:50,60) ----------------------------
def q_in_list_filter(spark: SparkSession, sf: str) -> DataFrame:
    events = read_table(spark, sf, "events")
    return (
        events.filter(
            F.col("event_type").isin("click", "view") & (F.col("value") >= 150.0)
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_big"))
    )


SQL_IN_LIST_FILTER = """
SELECT event_type, count(*) AS n_big FROM events
WHERE event_type IN ('click', 'view') AND value >= 150.0
GROUP BY event_type
"""


# --- F11: OR + null filter (general.py:194) ----------------------------------
def q_null_or_filter(spark: SparkSession, sf: str) -> DataFrame:
    orders = read_table(spark, sf, "orders")
    return (
        orders.filter(
            ((F.col("o_orderstatus") == "O") | (F.col("o_totalprice") > 400000.0))
            & F.col("o_orderpriority").isNotNull()
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_rows"))
    )


SQL_NULL_OR_FILTER = """
SELECT o_orderpriority, count(*) AS n_rows FROM orders
WHERE (o_orderstatus = 'O' OR o_totalprice > 400000.0)
  AND o_orderpriority IS NOT NULL
GROUP BY o_orderpriority
"""


# --- J6: chained navigation joins (general.py:169-174) -----------------------
def q_navigate_joins(spark: SparkSession, sf: str) -> DataFrame:
    """Page→Request→Engine navigation: three point lookups in the
    reference, two chained equi-joins here (dims broadcast)."""
    lineitem = read_table(spark, sf, "lineitem")
    orders = read_table(spark, sf, "orders")
    customer = read_table(spark, sf, "customer")
    return (
        lineitem.filter(F.col("l_orderkey") == 7)
        .join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .select("l_linenumber", "o_orderkey", "c_name")
    )


SQL_NAVIGATE_JOINS = """
SELECT l_linenumber, o_orderkey, c_name
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l_orderkey = 7
"""


# --- O3: client-side sort by name (retrieve_ocr_results.py:95) --------------
def q_sorted_page_names(spark: SparkSession, sf: str) -> DataFrame:
    documents = read_table(spark, sf, "documents")
    return documents.orderBy("doc_id").limit(20).select("doc_id", "source")


SQL_SORTED_PAGE_NAMES = """
SELECT doc_id, source FROM documents ORDER BY doc_id LIMIT 20
"""


# --- A9: line/char counts (run_client.py:333-338) ----------------------------
def q_line_char_counts(spark: SparkSession, sf: str) -> DataFrame:
    documents = read_table(spark, sf, "documents")
    return documents.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


SQL_LINE_CHAR_COUNTS = """
SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY lang
"""


# --- A8: median (np.quantile .50, run_client.py:144-152) ---------------------
def q_median_score(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated median per group (== quantile_cont): each
    group's prices are collected into one typed ``sort_array`` and the
    median read from it (``portable.sorted_median``). One group's
    values live in one array, the same memory class as a
    ``percentile`` aggregate's map of distinct values, without its
    boxed hash map, its shuffle serialization and its second sort.
    Documented scale-out variant: ``percentile_approx``."""
    lineitem = read_table(spark, sf, "lineitem")
    return lineitem.groupBy("l_returnflag").agg(
        F.sort_array(F.collect_list("l_extendedprice")).alias("prices")
    ).select(
        "l_returnflag",
        round_bin(sorted_median("prices"), 4).alias("median_price"),
    )


SQL_MEDIAN_SCORE = f"""
SELECT l_returnflag,
       {duckdb_round_bin('quantile_cont(l_extendedprice, 0.5)', 4)} AS median_price
FROM lineitem GROUP BY l_returnflag
"""

# --- A5 union shape: 24h window ∪ live states (general.py:188-207) ----------
def q_union_window_live(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's two-scan union: recent events plus all live
    error/signup rows, deduplicated then counted per type."""
    events = read_table(spark, sf, "events")
    recent = events.filter(
        (F.col("ts") >= F.lit(EVENTS_DAY_AGO)) & (F.col("ts") < F.lit(EVENTS_NOW))
    ).select("event_id", "event_type")
    live = events.filter(F.col("event_type").isin("error", "signup")).select(
        "event_id", "event_type"
    )
    return (
        recent.union(live)
        .distinct()
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )


SQL_UNION_WINDOW_LIVE = f"""
SELECT event_type, count(*) AS n_events FROM (
  SELECT event_id, event_type FROM events
  WHERE ts >= TIMESTAMP '{EVENTS_DAY_AGO}' AND ts < TIMESTAMP '{EVENTS_NOW}'
  UNION
  SELECT event_id, event_type FROM events
  WHERE event_type IN ('error', 'signup')
) GROUP BY event_type
"""


# --- S5: result-download format dispatch (routes.py:166-223) -----------------
def q_format_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    """The download route's format switch as one when/otherwise
    selector: each doc requests a format (deterministic from its id,
    standing in for the URL parameter), alto/page get the .xml export,
    txt the plain text, anything else the 400 path
    (routes.py:193-221)."""
    documents = read_table(spark, sf, "documents")
    fmt = F.element_at(
        F.array(F.lit("alto"), F.lit("page"), F.lit("txt"), F.lit("pdf")),
        (F.col("doc_id") % 4 + 1).cast("int"),
    )
    body = (
        F.when(fmt == "alto", F.concat(F.lit("<alto>"), F.col("text"), F.lit("</alto>")))
        .when(fmt == "page", F.concat(F.lit("<PcGts>"), F.col("text"), F.lit("</PcGts>")))
        .when(fmt == "txt", F.col("text"))
    )
    extension = (
        F.when(fmt.isin("alto", "page"), F.lit("xml"))
        .when(fmt == "txt", F.lit("txt"))
    )
    return documents.filter(F.col("doc_id") < 40).select(
        "doc_id",
        fmt.alias("format"),
        F.when(extension.isNotNull(), F.lit("success"))
        .otherwise(F.lit("bad_format"))
        .alias("status"),
        F.concat_ws(
            ".", F.concat(F.lit("doc"), F.col("doc_id").cast("string")), extension
        ).alias("attachment_name"),
        F.coalesce(F.length(body), F.lit(-1)).alias("body_len"),
    )


SQL_FORMAT_DISPATCH = """
SELECT doc_id,
       ['alto', 'page', 'txt', 'pdf'][CAST(doc_id % 4 + 1 AS INTEGER)] AS format,
       CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 'success' ELSE 'bad_format' END AS status,
       CASE doc_id % 4
         WHEN 0 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.xml'
         WHEN 1 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.xml'
         WHEN 2 THEN 'doc' || CAST(doc_id AS VARCHAR) || '.txt'
         ELSE 'doc' || CAST(doc_id AS VARCHAR)
       END AS attachment_name,
       CASE doc_id % 4
         WHEN 0 THEN length('<alto>' || text || '</alto>')
         WHEN 1 THEN length('<PcGts>' || text || '</PcGts>')
         WHEN 2 THEN length(text)
         ELSE -1
       END AS body_len
FROM documents WHERE doc_id < 40
"""


# --- F6/F7: api-key auth lookup (app/db/api_key.py:19-34) ---------------------
def q_auth_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Key-string lookup + permission gate: the USER-level lookup
    (api_string equality) and the SUPER_USER conjunctive variant in
    one row — customer.c_name stands in for api_string,
    c_mktsegment='BUILDING' for the SUPER_USER enum."""
    customer = read_table(spark, sf, "customer")
    return (
        customer.filter(F.col("c_name") == "Customer#000000042")
        .limit(1)
        .select(
            "c_custkey",
            "c_name",
            "c_mktsegment",
            (F.col("c_mktsegment") == "BUILDING").alias("authorized_su"),
        )
    )


SQL_AUTH_LOOKUP = """
SELECT c_custkey, c_name, c_mktsegment,
       (c_mktsegment = 'BUILDING') AS authorized_su
FROM customer WHERE c_name = 'Customer#000000042' LIMIT 1
"""


# --- get_engine_dict shape (general.py:70-77): grouped sorted lists ----------
def q_engine_dict(spark: SparkSession, sf: str) -> DataFrame:
    """Region → sorted member-nation list, one windowless aggregate
    (the reference built this dict with an N+1 loop per engine)."""
    nation = read_table(spark, sf, "nation")
    region = read_table(spark, sf, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations")
        )
    )


SQL_ENGINE_DICT = """
SELECT r_name, array_to_string(list_sort(list(n_name)), ',') AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


RELATIONAL_QUERIES: dict[str, tuple] = {
    "union_window_live": (q_union_window_live, SQL_UNION_WINDOW_LIVE),
    "engine_dict": (q_engine_dict, SQL_ENGINE_DICT),
    "state_histogram": (q_state_histogram, SQL_STATE_HISTOGRAM),
    "usage_statistics": (q_usage_statistics, SQL_USAGE_STATISTICS),
    "format_dispatch": (q_format_dispatch, SQL_FORMAT_DISPATCH),
    "auth_lookup": (q_auth_lookup, SQL_AUTH_LOOKUP),
    "fair_dequeue": (q_fair_dequeue, SQL_FAIR_DEQUEUE),
    "processed_counts": (q_processed_counts, SQL_PROCESSED_COUNTS),
    "argmin_fair_key": (q_argmin_fair_key, SQL_ARGMIN_FAIR_KEY),
    "keys_with_waiting": (q_keys_with_waiting, SQL_KEYS_WITH_WAITING),
    "completion_ratio": (q_completion_ratio, SQL_COMPLETION_RATIO),
    "avg_score": (q_avg_score, SQL_AVG_SCORE),
    "latest_version": (q_latest_version, SQL_LATEST_VERSION),
    "request_status": (q_request_status, SQL_REQUEST_STATUS),
    "expiry_scan": (q_expiry_scan, SQL_EXPIRY_SCAN),
    "timeout_requeue": (q_timeout_requeue, SQL_TIMEOUT_REQUEUE),
    "cancel_anti_join": (q_cancel_anti_join, SQL_CANCEL_ANTI_JOIN),
    "point_lookup": (q_point_lookup, SQL_POINT_LOOKUP),
    "point_lookup_malformed": (
        q_point_lookup_malformed,
        SQL_POINT_LOOKUP_MALFORMED,
    ),
    "in_list_filter": (q_in_list_filter, SQL_IN_LIST_FILTER),
    "null_or_filter": (q_null_or_filter, SQL_NULL_OR_FILTER),
    "navigate_joins": (q_navigate_joins, SQL_NAVIGATE_JOINS),
    "sorted_page_names": (q_sorted_page_names, SQL_SORTED_PAGE_NAMES),
    "line_char_counts": (q_line_char_counts, SQL_LINE_CHAR_COUNTS),
    "median_score": (q_median_score, SQL_MEDIAN_SCORE),
}

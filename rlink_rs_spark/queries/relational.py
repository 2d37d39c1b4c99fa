"""Row transforms, filters, connect/union, enrichment joins, and the
relational engine extras (TPC-H-style aggs, top-k, set ops, sessionization).

Reference parity covered here:
  - FlatMapFunction / FilterFunction (core/function.rs:186-207): projection,
    JSON payload parse (example/example-kafka/src/input_mapper.rs:1-49),
    predicate filters.
  - CoProcessFunction / connect (core/function.rs:256-272): schema-aligned
    union + broadcast dimension enrichment (example-connect/src/app.rs:51-72).
  - Sorts/limits/top-k and set ops are absent in the reference (SURVEY §2.9)
    and surfaced as engine extras.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from rlink_rs_spark.operators.aggregations import sum_exact
from rlink_rs_spark.operators.joins import broadcast_enrich, union_aligned
from rlink_rs_spark.queries.base import SUM_EXACT_SQL, register
from rlink_rs_spark.tables import load_table
from rlink_rs_spark.streaming.runner import drain


# --- flat_map / filter (row transforms) ------------------------------------

@register(
    "flat_map_filter_transform",
    """
    SELECT event_id, user_id, upper(event_type) AS event_type_uc,
           CAST(value * 2 AS DOUBLE) AS doubled,
           CAST(props->>'k' AS BIGINT) AS k
    FROM events
    WHERE value > 100.0 AND event_type <> 'error'
    """,
    "FlatMapFunction + FilterFunction chain (core/function.rs:186-207): JSON "
    "payload parse (input_mapper.rs analogue via get_json_object), projection, "
    "string transform, predicate filter.",
)
def flat_map_filter_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.where((F.col("value") > 100.0) & (F.col("event_type") != "error"))
        .select(
            "event_id",
            "user_id",
            F.upper("event_type").alias("event_type_uc"),
            (F.col("value") * 2).cast("double").alias("doubled"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )


@register(
    "udtf_word_positions",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS word,
             CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INT) AS pos
      FROM documents
    ), flagged AS (
      SELECT doc_id, pos, word,
             ROW_NUMBER() OVER (PARTITION BY doc_id, word ORDER BY pos) = 1 AS first_seen
      FROM toks
    )
    SELECT doc_id, pos, word, first_seen,
           CAST(COUNT(*) FILTER (first_seen)
                OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS INT) AS vocab_so_far
    FROM flagged
    """,
    "The reference's FlatMapFunction as a PYTHON UDTF (Spark 4's native "
    "1->N arbitrary-logic surface, core/function.rs:186-195): each doc "
    "expands to one row per word position with per-row Python state (the "
    "set of words seen so far) that plain explode can't carry. The "
    "DuckDB oracle needs two window passes to reproduce what the UDTF "
    "does in one O(words) loop. Map-side only: the UDTF is "
    "partition-parallel with zero shuffles; prefer expressions when "
    "expressible -- this query IS the escape-hatch witness.",
)
def udtf_word_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral-join the UDTF against documents: the table's own columns
    (doc_id) stay addressable next to the generated rows, exactly the
    reference's flat_map record-context contract. Arrow-batched transfer
    (useArrow) keeps the Python boundary columnar."""
    from pyspark.sql.functions import udtf

    @udtf(
        returnType="pos int, word string, first_seen boolean, vocab_so_far int",
        useArrow=True,
    )
    class WordPositions:
        def eval(self, text: str):
            if text is None:  # match unnest(string_split(NULL)): zero rows
                return
            seen: set[str] = set()
            for i, w in enumerate(text.split(" ")):
                first = w not in seen
                if first:
                    seen.add(w)
                yield i, w, first, len(seen)

    spark.udtf.register("word_positions", WordPositions)
    from rlink_rs_spark.operators.repartition import fan_out

    # the lateral UDTF is Python-boundary-bound; spread the one-row-group
    # fixture scan so its Arrow batches hit every worker (r15; no-op on
    # multi-file layouts)
    fan_out(load_table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "docs_udtf"
    )
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.word, t.first_seen, t.vocab_so_far "
        "FROM docs_udtf d, LATERAL word_positions(d.text) t"
    )


from rlink_rs_spark.sources.python_datasource import synth_oracle_sql  # noqa: E402

_PYDS_ROWS, _PYDS_PARTS = 100, 4


@register(
    "python_datasource_scan",
    f"""
    WITH scan AS ({synth_oracle_sql(_PYDS_ROWS, _PYDS_PARTS)})
    SELECT part, COUNT(*) AS cnt,
           SUM(CAST(ROUND(value * 100) AS BIGINT))/100.0 AS sum_value,
           MIN(event_id) AS first_id, MAX(event_id) AS last_id
    FROM scan GROUP BY part
    """,
    "A full custom-source scan through Spark 4's Python DataSource API -- "
    "the reference's InputFormat/InputSplit contract natively "
    "(create_input_splits -> partitions(), read_record -> read(split); "
    "sources/python_datasource.py): 4 splits read in parallel by Arrow-"
    "batched Python workers, aggregated downstream. The generator is "
    "deterministic arithmetic, so the oracle reproduces the scan with "
    "range().",
)
def python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.sources.python_datasource import register_synthetic_source

    register_synthetic_source(spark)
    scan = (
        spark.read.format("synthetic_events")
        .option("rowsPerPartition", _PYDS_ROWS)
        .option("numPartitions", _PYDS_PARTS)
        .load()
    )
    return scan.groupBy("part").agg(
        F.count("*").alias("cnt"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
    )


# --- text source formats (CSV / NDJSON) --------------------------------------

# Full-fidelity roundtrip witness: every column participates in the digest
# (counts, exact cent-sums, distinct users, min/max of ids and timestamps,
# total props characters) so one corrupted cell in the text write OR parse
# changes a hash. The oracle reads the pristine parquet view -- text staging
# and read-back must be LOSSLESS to match.
_TEXT_SOURCE_ORACLE = """
SELECT event_type, COUNT(*) AS cnt,
       SUM(CAST(ROUND(value * 100) AS BIGINT))/100.0 AS sum_value,
       COUNT(DISTINCT user_id) AS n_users,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       MIN(event_id) AS first_id, MAX(event_id) AS last_id,
       CAST(SUM(length(props)) AS BIGINT) AS props_chars
FROM events GROUP BY event_type
"""


def _text_source_agg(scan: "DataFrame") -> "DataFrame":
    return scan.groupBy("event_type").agg(
        F.count("*").alias("cnt"),
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min("event_id").alias("first_id"),
        F.max("event_id").alias("last_id"),
        F.sum(F.length("props")).alias("props_chars"),
    )


@register(
    "csv_source_roundtrip",
    _TEXT_SOURCE_ORACLE,
    "CSV source-format parity: the events table staged once by Spark's CSV "
    "writer (quoted JSON props, epoch-micros timestamps -- default text "
    "timestamp formats truncate to millis) and read back through the JVM "
    "Univocity parser with a pinned schema, then digested column-by-column "
    "against the pristine parquet oracle. The reference's source contract "
    "parses typed rows from byte payloads at the boundary (connector-kafka/"
    "src/lib.rs:44-70); this is the same contract for text files.",
)
def csv_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.sources.textformats import staged_events

    return _text_source_agg(staged_events(spark, sf_dir, "csv"))


@register(
    "json_source_roundtrip",
    _TEXT_SOURCE_ORACLE,
    "NDJSON source-format parity: same staged-write/read-back witness as "
    "csv_source_roundtrip through Spark's Jackson JSON source (nested-quote "
    "escaping exercised by the JSON-valued props column).",
)
def json_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.sources.textformats import staged_events

    return _text_source_agg(staged_events(spark, sf_dir, "json"))


# --- connect analogues ------------------------------------------------------

@register(
    "union_connect",
    f"""
    WITH merged AS (
      SELECT user_id, value FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id, value * 10 AS value FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, {SUM_EXACT_SQL.format(col='value')} AS sum_value, COUNT(*) AS cnt
    FROM merged GROUP BY user_id
    """,
    "CoProcessFunction merge of co-partitioned streams into one schema "
    "(connect, core/data_stream.rs:349-371) -> union + downstream agg.",
)
def union_connect(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select("user_id", "value")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", (F.col("value") * 10).alias("value")
    )
    return union_aligned(clicks, purchases).groupBy("user_id").agg(
        sum_exact("value", "sum_value"), F.count("*").alias("cnt")
    )


@register(
    "broadcast_enrichment_join",
    f"""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           {SUM_EXACT_SQL.format(col='e.value')} AS sum_value, COUNT(*) AS cnt
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name, c.c_mktsegment
    """,
    "Stream-static broadcast enrichment (the reference's Broadcast config + "
    "RoundRobin stream connect, example-connect/src/app.rs:51-72): fact stream "
    "joined to broadcast dimensions, zero fact-side shuffle before the agg.",
)
def broadcast_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    enriched = broadcast_enrich(
        events, customer, on=events.user_id == customer.c_custkey, how="inner"
    )
    enriched = broadcast_enrich(
        enriched, nation, on=enriched.c_nationkey == nation.n_nationkey, how="inner"
    )
    return enriched.groupBy(
        F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("segment")
    ).agg(sum_exact("value", "sum_value"), F.count("*").alias("cnt"))


@register(
    "salted_hot_key_agg",
    f"""
    SELECT event_type, {SUM_EXACT_SQL.format(col='value')} AS sum_value,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    "Skew-mitigated hot-key aggregation: phase 1 aggregates on (key, salt) "
    "so no single reducer owns a hot key's full volume, phase 2 recombines "
    "per key (operators/repartition.salted). Result is salt-invariant "
    "(exact integer-cents sums commute), so the oracle is the plain agg -- "
    "the plan, not the answer, is what changes for 100 TB skew.",
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.repartition import salted

    events = load_table(spark, sf_dir, "events")
    phase1 = (
        salted(events, "event_type", 16)
        .groupBy("event_type", "__salt")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("__cents"),
            F.count("*").alias("__c"),
        )
    )
    return phase1.groupBy("event_type").agg(
        (F.sum("__cents") / 100.0).alias("sum_value"),
        F.sum("__c").alias("cnt"),
    )


@register(
    "q5_star_join_volume",
    """
    SELECT n.n_name AS nation,
           SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))/10000.0 AS revenue,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN customer c  ON o.o_custkey = c.c_custkey
    JOIN supplier s  ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n    ON c.c_nationkey = n.n_nationkey
    JOIN region r    ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    "TPC-H Q5 shape: star join over the full schema -- region filter prunes "
    "nation/customer/supplier; small dims broadcast, the orders=lineitem "
    "spine is left to AQE (broadcast at small SF, shuffled hash/sort-merge "
    "at 100 TB). The canonical multi-dim analytics plan.",
)
def q5_star_join_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    # dims shrink through the region filter; broadcast them all -- the fact
    # spine (lineitem |X| orders) is the only non-broadcast join
    dims = (
        c.join(F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
               c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_nationkey", "n_name")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(dims), o.o_custkey == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == F.col("c_nationkey")),
        )
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation"))
        .agg(
            (F.sum(F.round(revenue * 10000).cast("long")) / 10000.0).alias("revenue"),
            F.count("*").alias("cnt"),
        )
    )


@register(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))/10000.0 AS revenue,
           COUNT(*) AS cnt
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC LIMIT 20
    """,
    "TPC-H Q10 shape: returned-item revenue per customer, top 20 with "
    "deterministic tie-break. Return flag + date filters pushed to both "
    "fact scans; customer/nation broadcast; final top-k is TakeOrdered, "
    "never a global sort.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-10-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            (F.sum(F.round(revenue * 10000).cast("long")) / 10000.0).alias("revenue"),
            F.count("*").alias("cnt"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "q14_promo_share",
    """
    SELECT SUM(CASE WHEN p.p_type LIKE 'PROMO%'
               THEN CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)
               ELSE 0 END)/10000.0 AS promo_revenue,
           SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))/10000.0 AS total_revenue,
           COUNT(*) AS cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    "TPC-H Q14 shape: conditional aggregation (promo vs total revenue) over "
    "a fact-dim join -- date filter pushed to the lineitem scan, part "
    "broadcast, single global agg with map-side combine.",
)
def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-09-01") & (F.col("l_shipdate") < "1996-10-01")
    )
    p = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("long")
    promo = F.when(F.col("p_type").like("PROMO%"), cents).otherwise(F.lit(0))
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        (F.sum(promo) / 10000.0).alias("promo_revenue"),
        (F.sum(cents) / 10000.0).alias("total_revenue"),
        F.count("*").alias("cnt"),
    )


_TRANSITION_ORACLE = """
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    )
    SELECT event_type, next_type, COUNT(*) AS cnt
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """


@register(
    "event_transition_matrix",
    _TRANSITION_ORACLE,
    "Per-user event-transition (Markov) matrix: LEAD over (ts, event_id) "
    "within each user, counted per (from, to) pair -- the funnel/sequence "
    "primitive. One shuffle on user_id for the window (per-user sort only), "
    "then a map-side-combined count over <= |types|^2 groups.",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.select("event_type", F.lead("event_type").over(w).alias("next_type"))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT SUM(CAST(ROUND(l_extendedprice * l_discount * 10000) AS BIGINT))/10000.0 AS revenue,
           COUNT(*) AS cnt
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    "TPC-H Q6 shape: pure scan-filter-aggregate with every predicate pushed "
    "to the parquet scan -- the canonical predicate-pushdown witness (zero "
    "joins, one map-side-combined global agg; at 100 TB the scan cost IS "
    "the query cost, so pushdown + column pruning decide everything).",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.where(
        (F.col("l_shipdate") >= "1994-01-01")
        & (F.col("l_shipdate") < "1995-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    revenue = F.col("l_extendedprice") * F.col("l_discount")
    return filtered.agg(
        (F.sum(F.round(revenue * 10000).cast("long")) / 10000.0).alias("revenue"),
        F.count("*").alias("cnt"),
    )


@register(
    "streaming_enrichment_join",
    f"""
    SELECT n.n_name AS nation, {SUM_EXACT_SQL.format(col='e.value')} AS sum_value,
           COUNT(*) AS cnt
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    "Stream-static broadcast enrichment executed AS A STREAM (the "
    "reference's connect(Broadcast config, RoundRobin stream), "
    "example-connect/src/app.rs:51-72): file-replay event stream joined to "
    "static dims inside the micro-batch plan, complete-mode keyed agg. "
    "Complete mode re-emits full state per batch -- correct here because "
    "the output key is nation (25 rows); high-cardinality keys must use "
    "append/update with a watermark instead. The batch twin "
    "broadcast_enrichment_join covers the same plan shape in batch.",
)
def streaming_enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.joins import broadcast_enrich
    from rlink_rs_spark.streaming.runner import run_to_memory
    from rlink_rs_spark.streaming.sources import file_stream

    ev = file_stream(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = broadcast_enrich(
        ev, customer, on=ev.user_id == customer.c_custkey, how="inner"
    )
    enriched = broadcast_enrich(
        enriched, nation, on=enriched.c_nationkey == nation.n_nationkey, how="inner"
    )
    agg = enriched.groupBy(F.col("n_name").alias("nation")).agg(
        (F.sum(F.round(F.col("value") * 100).cast("long")) / 100.0).alias("sum_value"),
        F.count("*").alias("cnt"),
    )
    return run_to_memory(agg, output_mode="complete", shuffle_partitions=8)


@register(
    "asof_join_latest_click",
    """
    SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms, p.value,
           c.value AS click_value, epoch_ms(c.ts) AS click_ts_ms
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    "As-of join (backward): each purchase matched to the user's latest "
    "click at-or-before it, null when none. Spark lacks a native ASOF; the "
    "operator (operators/joins.asof_join) uses the scalable union-and-fill "
    "shape -- one key shuffle + per-key sort, never a range-join argmax "
    "explosion. Oracle = DuckDB's native ASOF LEFT JOIN.",
)
def asof_join_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = events.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("c_ts"),
        F.col("value").alias("click_value"),
        F.unix_millis("ts").alias("click_ts_ms"),
    )
    out = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="c_ts",
        right_cols=["click_value", "click_ts_ms"],
    )
    return out.select(
        "event_id", "user_id", F.unix_millis("ts").alias("ts_ms"), "value",
        "click_value", "click_ts_ms",
    )


@register(
    "semi_anti_join_cohorts",
    """
    SELECT c.c_custkey AS user_id, 'active' AS cohort
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey
                  AND e.event_type = 'purchase')
    UNION ALL
    SELECT c.c_custkey AS user_id, 'dormant' AS cohort
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey
                      AND e.event_type = 'purchase')
    """,
    "Semi/anti join pair (EXISTS / NOT EXISTS): purchasing vs dormant "
    "customers. Spark plans LeftSemi/LeftAnti -- no fact-side row "
    "duplication, broadcastable filter side; the dedup-filter shape used "
    "to subtract already-processed keys at 100 TB.",
)
def semi_anti_join_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    purchasers = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id")
    )
    active = customer.join(
        purchasers, customer.c_custkey == purchasers.user_id, "left_semi"
    ).select(F.col("c_custkey").alias("user_id"), F.lit("active").alias("cohort"))
    dormant = customer.join(
        purchasers, customer.c_custkey == purchasers.user_id, "left_anti"
    ).select(F.col("c_custkey").alias("user_id"), F.lit("dormant").alias("cohort"))
    return active.unionByName(dormant)


@register(
    "cube_agg",
    f"""
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(CAST(user_id AS VARCHAR), '(all)') AS user_bucket,
           {SUM_EXACT_SQL.format(col='value')} AS sum_value, COUNT(*) AS cnt
    FROM events
    WHERE user_id < 10
    GROUP BY CUBE (event_type, user_id)
    """,
    "CUBE grouping sets (all 4 combinations of two dimensions in one pass "
    "-- absent in the reference, SURVEY §2.5 extra), completing the "
    "rollup/cube/grouping-set family.",
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    return (
        events.cube("event_type", "user_id")
        .agg(sum_exact("value", "sum_value"), F.count("*").alias("cnt"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("user_id").cast("string"), F.lit("(all)")).alias("user_bucket"),
            "sum_value",
            "cnt",
        )
    )


@register(
    "pivot_agg",
    f"""
    SELECT user_id,
           {SUM_EXACT_SQL.format(col="CASE WHEN event_type = 'click' THEN value END")} AS click,
           {SUM_EXACT_SQL.format(col="CASE WHEN event_type = 'purchase' THEN value END")} AS purchase,
           {SUM_EXACT_SQL.format(col="CASE WHEN event_type = 'view' THEN value END")} AS view
    FROM events
    WHERE user_id < 25
    GROUP BY user_id
    """,
    "Pivot (long -> wide): per-user exact value sums spread across event "
    "types. Spark's pivot is the same conditional-aggregation expansion "
    "the oracle spells out -- one shuffle, no transpose materialization.",
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events").where(F.col("user_id") < 25)
    cents = F.sum(F.round(F.col("value") * 100).cast("long"))
    return (
        events.groupBy("user_id")
        .pivot("event_type", ["click", "purchase", "view"])
        .agg((cents / 100.0))
    )


@register(
    "profile_columns",
    """
    SELECT 'value' AS column_name, COUNT(*) AS n_rows,
           COUNT(value) AS n_non_null, COUNT(DISTINCT value) AS n_distinct,
           MIN(value) AS min_d, MAX(value) AS max_d
    FROM events
    UNION ALL
    SELECT 'user_id', COUNT(*), COUNT(user_id), COUNT(DISTINCT user_id),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'event_type', COUNT(*), COUNT(event_type), COUNT(DISTINCT event_type),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
    FROM events
    """,
    "Column profiling (row/null/distinct counts + numeric bounds per "
    "column) -- the data-quality pass every training pipeline runs before "
    "ingest. One scan per column family, map-side partial aggs.",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")

    def prof(col: str, numeric: bool) -> DataFrame:
        aggs = [
            F.count("*").alias("n_rows"),
            F.count(col).alias("n_non_null"),
            F.countDistinct(col).alias("n_distinct"),
            (F.min(col).cast("double") if numeric else F.lit(None).cast("double")).alias("min_d"),
            (F.max(col).cast("double") if numeric else F.lit(None).cast("double")).alias("max_d"),
        ]
        return events.agg(*aggs).select(F.lit(col).alias("column_name"), "*")

    return prof("value", True).unionByName(prof("user_id", True)).unionByName(
        prof("event_type", False)
    )


# --- engine extras: TPC-H-style relational coverage -------------------------

@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SUM_EXACT_SQL.format(col='l_quantity')} AS sum_qty,
           {SUM_EXACT_SQL.format(col='l_extendedprice')} AS sum_base_price,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))/10000.0 AS sum_disc_price,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT))/1000000.0 AS sum_charge,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1 shape: scan-heavy multi-agg with filter pushdown and partial "
    "aggregation; the workhorse batch-analytics pattern at 100 TB.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            sum_exact("l_quantity", "sum_qty"),
            sum_exact("l_extendedprice", "sum_base_price"),
            (F.sum(F.round(disc_price * 10000).cast("long")) / 10000.0).alias("sum_disc_price"),
            (F.sum(F.round(charge * 1000000).cast("long")) / 1000000.0).alias("sum_charge"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT))/10000.0 AS revenue,
           epoch_ms(o.o_orderdate) AS orderdate_ms, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
    "TPC-H Q3 shape: selective dimension filter -> broadcast join -> agg -> "
    "deterministic top-10 (orderBy + limit -- absent in the reference, "
    "SURVEY §2.9).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # broadcast only the filtered customer dim; the orders⋈lineitem side is
    # left to Catalyst/AQE (broadcast at small SF, sort-merge at 100 TB)
    joined = li.join(o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
                     li.l_orderkey == o.o_orderkey)
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(F.round(revenue * 10000).cast("long")) / 10000.0).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("orderdate_ms"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "top_k_per_group",
    f"""
    WITH sums AS (
      SELECT event_type, user_id, {SUM_EXACT_SQL.format(col='value')} AS sum_value
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY sum_value DESC, user_id ASC) AS rn
      FROM sums
    )
    SELECT event_type, user_id, sum_value, rn FROM ranked WHERE rn <= 5
    """,
    "Top-K per group via ranking window function (engine extra; deterministic "
    "tie-break on user_id).",
)
def top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    sums = events.groupBy("event_type", "user_id").agg(sum_exact("value", "sum_value"))
    w = Window.partitionBy("event_type").orderBy(F.col("sum_value").desc(), F.col("user_id").asc())
    return sums.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)


@register(
    "set_ops_users",
    """
    SELECT user_id, 'both' AS cohort FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT user_id, 'click_only' AS cohort FROM (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    )
    """,
    "Set ops (intersect/except -- absent in the reference, SURVEY §2.9): "
    "clicker/purchaser cohort split.",
)
def set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clickers = events.where(F.col("event_type") == "click").select("user_id").distinct()
    purchasers = events.where(F.col("event_type") == "purchase").select("user_id").distinct()
    both = clickers.intersect(purchasers).withColumn("cohort", F.lit("both"))
    click_only = clickers.subtract(purchasers).withColumn("cohort", F.lit("click_only"))
    return both.unionByName(click_only)


@register(
    "distinct_agg",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    "Distinct aggregation (absent in the reference, SURVEY §2.5): "
    "count(distinct) with Spark's two-phase distinct-agg expansion.",
)
def distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("distinct_users"), F.count("*").alias("cnt")
    )


@register(
    "avg_agg",
    f"""
    SELECT event_type,
           {SUM_EXACT_SQL.format(col='value')} / COUNT(*) AS avg_value,
           COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    "avg aggregation descriptor (Agg('avg'), composed from exact sum / count "
    "-- absent in the reference, SURVEY §2.5 extra) through grouped_agg.",
)
def avg_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.aggregations import Agg, count, grouped_agg

    events = load_table(spark, sf_dir, "events")
    return grouped_agg(events, ["event_type"], [Agg("avg", "value", "avg_value"), count()]) \
        .withColumnRenamed("count", "cnt")


@register(
    "pipeline_enriched_agg",
    f"""
    SELECT c.c_mktsegment AS segment,
           {SUM_EXACT_SQL.format(col='e.value * 2')} AS sum_doubled,
           COUNT(*) AS cnt
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    WHERE e.value > 100.0 AND e.event_type <> 'error'
    GROUP BY c.c_mktsegment
    """,
    "The full DataStream builder chain (flat_map -> filter -> enrich -> "
    "key_by -> reduce, core/data_stream.rs:102-247) exercised end-to-end "
    "through Pipeline: filter + map_expr + broadcast enrichment + grouped "
    "reduce, oracle-checked. The windowed reduce path is covered by "
    "streaming_flagship_agg; this covers the non-windowed transform path.",
)
def pipeline_enriched_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rlink_rs_spark.operators.aggregations import count, sum_
    from rlink_rs_spark.plans.pipeline import Pipeline

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    p = (
        Pipeline()
        .filter((F.col("value") > 100.0) & (F.col("event_type") != "error"))
        .map_expr(doubled="CAST(value * 2 AS DOUBLE)")
        .enrich(customer, on=F.col("user_id") == F.col("c_custkey"), how="inner")
        .key_by("c_mktsegment")
        .reduce(sum_("doubled", "sum_doubled"), count())
    )
    return (
        p.build(events)
        .select(F.col("c_mktsegment").alias("segment"), "sum_doubled", F.col("count").alias("cnt"))
    )


@register(
    "kafka_envelope_roundtrip",
    """
    SELECT event_id AS offset, CAST(user_id AS VARCHAR) AS key,
           event_id AS p_event_id, user_id AS p_user_id, value AS p_value
    FROM events
    WHERE event_id BETWEEN 100 AND 4999
    """,
    "Kafka envelope parse (FIXTURES.md §4): events shaped into the "
    "reference's kafka_message schema (key/payload/offset, connector-kafka/"
    "src/lib.rs:44-70), JSON payload round-tripped via to_json/from_json "
    "(InputMapperFunction, example-kafka/src/input_mapper.rs:1-49), replayed "
    "over an offset range (input_format.rs:76-163). Oracle validates the "
    "round-trip is the identity.",
)
def kafka_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    events = load_table(spark, sf_dir, "events")
    # OutputMapperFunction: rows -> kafka_message envelope
    envelope = events.select(
        F.col("event_id").alias("offset"),
        F.col("user_id").cast("string").cast("binary").alias("key"),
        F.to_json(F.struct("event_id", "user_id", "value")).cast("binary").alias("payload"),
    )
    # InputMapperFunction: envelope -> typed rows, offset-range replay
    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = envelope.where((F.col("offset") >= 100) & (F.col("offset") <= 4999)).select(
        "offset",
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("payload").cast("string"), payload_schema).alias("p"),
    )
    return parsed.select(
        "offset",
        "key",
        F.col("p.event_id").alias("p_event_id"),
        F.col("p.user_id").alias("p_user_id"),
        F.col("p.value").alias("p_value"),
    )


_LB_PARTS = 4
_LB_SEEK = {0: 0, 1: 50, 2: 100, 3: 200}  # per-partition offset seek
_LB_PART_DUCK = (
    "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT "
    f"% {_LB_PARTS} AS INTEGER)"
)
_LB_SEEK_DUCK = " OR ".join(
    f"(partition = {p} AND \"offset\" >= {o})" for p, o in _LB_SEEK.items()
)


@register(
    "kafka_loopback_seek",
    f"""
    WITH env AS (
      SELECT {_LB_PART_DUCK} AS partition,
             ROW_NUMBER() OVER (PARTITION BY {_LB_PART_DUCK} ORDER BY event_id) - 1 AS "offset",
             CAST(user_id AS VARCHAR) AS key,
             event_id AS p_event_id, user_id AS p_user_id, value AS p_value
      FROM events
    )
    SELECT * FROM env WHERE {_LB_SEEK_DUCK}
    """,
    "Kafka runtime path via the broker-less loopback (sources/loopback.py): "
    "events shaped into the exact Kafka envelope (deterministic md5 "
    "partitioner + per-partition offsets), published to a topic directory, "
    "then CONSUMED AS A STREAM with per-partition startingOffsets seek "
    "(input_format.rs:76-163 mode 2) and JSON-decoded. The oracle "
    "reproduces the partitioner, offset ranks, and seek filter.",
)
def kafka_loopback_seek(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from rlink_rs_spark.sources.loopback import publish, subscribe, to_envelope
    from rlink_rs_spark.streaming.runner import run_to_memory

    events = load_table(spark, sf_dir, "events")
    envelope = to_envelope(
        events,
        key_col="user_id",
        value_col=F.to_json(F.struct("event_id", "user_id", "value")),
        topic="events",
        n_partitions=_LB_PARTS,
        ts_col="ts",
        order_col="event_id",
    )
    topic_dir = tempfile.mkdtemp(prefix="rlink_loopback_")
    publish(envelope, topic_dir)
    stream = subscribe(spark, topic_dir, starting_offsets=_LB_SEEK)
    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = stream.select(
        "partition",
        "offset",
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), payload_schema).alias("p"),
    ).select(
        "partition",
        "offset",
        "key",
        F.col("p.event_id").alias("p_event_id"),
        F.col("p.user_id").alias("p_user_id"),
        F.col("p.value").alias("p_value"),
    )
    return run_to_memory(parsed, shuffle_partitions=8)


_PYDS_SEEK = {0: 10, 1: 0, 2: 150, 3: 75}
_PYDS_SEEK_DUCK = " OR ".join(
    f"(partition = {p} AND \"offset\" >= {o})" for p, o in _PYDS_SEEK.items()
)


@register(
    "kafka_python_stream_source",
    f"""
    WITH env AS (
      SELECT {_LB_PART_DUCK} AS partition,
             ROW_NUMBER() OVER (PARTITION BY {_LB_PART_DUCK} ORDER BY event_id) - 1 AS "offset",
             CAST(user_id AS VARCHAR) AS key,
             event_id AS p_event_id, user_id AS p_user_id, value AS p_value
      FROM events
    )
    SELECT * FROM env WHERE {_PYDS_SEEK_DUCK}
    """,
    "The Kafka runtime contract on Spark 4's PARTITION-AWARE Python "
    "streaming DataSource (sources/kafka_datasource.py): one InputSplit "
    "per topic-partition with its [start, end) offset range "
    "(create_input_splits parity, "
    "connector-kafka/src/source/input_format.rs:26-163), per-partition "
    "startingOffsets seek, driver-side latestOffset metadata scan, and "
    "Arrow-batched executor-side reads. The oracle reproduces the "
    "partitioner, offset ranks, and seek filter, independent of how the "
    "stream was batched. maxRowsPerTrigger admission control is "
    "exercised by pytest under a processingTime trigger "
    "(test_kafka_python_source_rate_limit_invariance): an availableNow "
    "drain of a Python streaming source runs ONE planned batch, so the "
    "rate cap would truncate it here.",
)
def kafka_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json
    import tempfile

    from pyspark.sql import types as T

    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source
    from rlink_rs_spark.sources.loopback import publish, to_envelope
    from rlink_rs_spark.streaming.runner import run_to_memory

    events = load_table(spark, sf_dir, "events")
    envelope = to_envelope(
        events,
        key_col="user_id",
        value_col=F.to_json(F.struct("event_id", "user_id", "value")),
        topic="events",
        n_partitions=_LB_PARTS,
        ts_col="ts",
        order_col="event_id",
    )
    topic_dir = tempfile.mkdtemp(prefix="rlink_pyds_")
    publish(envelope, topic_dir)
    register_kafka_source(spark)
    stream = (
        spark.readStream.format("rlink_kafka")
        .option("topicdir", topic_dir)
        .option("startingoffsets", _json.dumps(_PYDS_SEEK))
        .load()
    )
    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    parsed = stream.select(
        "partition",
        "offset",
        F.col("key").cast("string").alias("key"),
        F.from_json(F.col("value").cast("string"), payload_schema).alias("p"),
    ).select(
        "partition",
        "offset",
        "key",
        F.col("p.event_id").alias("p_event_id"),
        F.col("p.user_id").alias("p_user_id"),
        F.col("p.value").alias("p_value"),
    )
    return run_to_memory(parsed, shuffle_partitions=8)


@register(
    "kafka_python_stream_sink",
    f"""
    SELECT {_LB_PART_DUCK} AS partition,
           CAST(user_id AS VARCHAR) AS key,
           event_id AS p_event_id, user_id AS p_user_id, value AS p_value
    FROM events
    """,
    "KafkaOutputFormat's producer contract on the native Python "
    "streaming-writer face (sources/kafka_datasource.py "
    "KafkaTopicStreamWriter, sink/output_format.rs parity): events "
    "streamed through to_envelope into writeStream.format('rlink_kafka') "
    "-- tasks stage parquet under _tmp/, the driver-side commit assigns "
    "per-partition offsets continuing from the committed high-water mark "
    "and records the batchId in a commit log (a checkpoint-replayed "
    "epoch discards its duplicate send: exactly-once per row, "
    "kill/resume pytest-witnessed) -- then the topic is read back and "
    "payload-decoded. Offsets are excluded from the oracle by design: "
    "cross-task append order within a batch is nondeterministic exactly "
    "as a real broker's is; per-partition 0..n-1 contiguity is "
    "pytest-pinned instead.",
)
def kafka_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import types as T

    from rlink_rs_spark.sources.kafka_datasource import register_kafka_source
    from rlink_rs_spark.sources.loopback import to_envelope
    from rlink_rs_spark.streaming.runner import drain
    from rlink_rs_spark.streaming.sources import stage_stream_dir, stream_from_staged

    staged = stage_stream_dir(sf_dir, "events", chunks=4, order_col="ts")
    src = stream_from_staged(spark, staged, sf_dir, "events")
    envelope = to_envelope(
        src,
        key_col="user_id",
        value_col=F.to_json(F.struct("event_id", "user_id", "value")),
        topic="events-out",
        n_partitions=_LB_PARTS,
        ts_col="ts",
        assign_offset=False,
    ).drop("__ord")
    register_kafka_source(spark)
    topic_dir = tempfile.mkdtemp(prefix="rlink_pyds_sink_")
    ck = tempfile.mkdtemp(prefix="rlink_pyds_sink_ck_")
    drain(
        spark,
        lambda: envelope.writeStream.format("rlink_kafka")
        .option("topicdir", topic_dir)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start(),
        "rlink_kafka producer",
    )

    payload_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    return (
        spark.read.parquet(topic_dir)
        .select(
            "partition",
            F.col("key").cast("string").alias("key"),
            F.from_json(F.col("value").cast("string"), payload_schema).alias("p"),
        )
        .select(
            "partition",
            "key",
            F.col("p.event_id").alias("p_event_id"),
            F.col("p.user_id").alias("p_user_id"),
            F.col("p.value").alias("p_value"),
        )
    )


@register(
    "rollup_agg",
    f"""
    SELECT COALESCE(event_type, '(all)') AS event_type,
           COALESCE(user_id, -1) AS user_id,
           {SUM_EXACT_SQL.format(col='value')} AS sum_value, COUNT(*) AS cnt
    FROM events
    GROUP BY ROLLUP (event_type, user_id)
    """,
    "Hierarchical rollup aggregation (grouping sets -- absent in the "
    "reference, SURVEY §2.5): per (type,user), per type, and grand total "
    "in one pass.",
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.rollup("event_type", "user_id")
        .agg(sum_exact("value", "sum_value"), F.count("*").alias("cnt"))
        .select(
            F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
            F.coalesce(F.col("user_id"), F.lit(-1)).alias("user_id"),
            "sum_value",
            "cnt",
        )
    )


@register(
    "sessionization",
    f"""
    WITH ordered AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN epoch_ms(ts) - LAG(epoch_ms(ts)) OVER w > 1800000
                  OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (  -- same (ts, event_id) ordering as `ordered`: ties must cumsum identically
      SELECT user_id, ts, value,
             -- CAST: DuckDB's windowed SUM of integers yields HUGEINT; Spark
             -- emits BIGINT. Align types so the driver's value hash matches.
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM ordered
    )
    SELECT user_id, session_id, MIN(epoch_ms(ts)) AS session_start_ms,
           MAX(epoch_ms(ts)) AS session_end_ms, COUNT(*) AS n_events,
           {SUM_EXACT_SQL.format(col='value')} AS sum_value
    FROM sessions GROUP BY user_id, session_id
    """,
    "Sessionization (session windows -- absent in the reference, SURVEY §2.6): "
    "gaps-and-islands with a 30-minute inactivity gap; the streaming twin uses "
    "F.session_window.",
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = 30 * 60 * 1000
    ms = F.unix_millis("ts")
    ordered = events.withColumn(
        "new_session",
        F.when(
            (ms - F.lag(ms).over(w) > gap_ms) | F.lag("ts").over(w).isNull(), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sessions = ordered.withColumn("session_id", F.sum("new_session").over(w_cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.min(F.unix_millis("ts")).alias("session_start_ms"),
        F.max(F.unix_millis("ts")).alias("session_end_ms"),
        F.count("*").alias("n_events"),
        sum_exact("value", "sum_value"),
    )


_BAND_EPS = 5.0


@register(
    "value_band_join",
    f"""
    SELECT a.event_id, CAST(COUNT(*) AS BIGINT) AS near_peers
    FROM events a JOIN events b
      ON a.event_type = b.event_type AND a.user_id = b.user_id
     AND a.event_id <> b.event_id
     AND abs(a.value - b.value) <= {_BAND_EPS}
    GROUP BY a.event_id
    """,
    "Band join (|value_a - value_b| <= eps among a user's events of one "
    "type) computed WITHOUT materializing candidate pairs: a RANGE-frame "
    "window partitioned by (type, user) and value-ordered counts the rows "
    "inside [v - eps, v + eps] in one linear pass per key. The oracle "
    "states the same count as the naive theta self-join. Scale: the "
    "earlier bucket-expansion equi-join (replicate each probe row into "
    "floor(v/eps) +- 1 buckets, hash-join on (type, user, bucket), exact "
    "filter after) already avoided a nested-loop plan, but its candidate "
    "volume is QUADRATIC in per-key density -- the sf1 witness measured "
    "2.3x-linear when the fixture replicator doubled per-(type,user) "
    "density (VERDICT r6). The sliding RANGE frame does the same exact "
    "count in O(n log n) per key (sort + linear frame advance), so a "
    "skewed real key degrades gracefully instead of quadratically; the "
    "bucket equi-join remains the right pattern only for MULTI-column "
    "bands, where no single ordering exists.",
)
def value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id", "value"
    )
    # COUNT(*) over the value band includes the row itself -> subtract 1;
    # SQL-expr window because rangeBetween() takes only integer bounds.
    band_cnt = F.expr(
        "COUNT(*) OVER (PARTITION BY event_type, user_id ORDER BY value "
        f"RANGE BETWEEN {_BAND_EPS} PRECEDING AND {_BAND_EPS} FOLLOWING)"
    )
    return (
        ev.select("event_id", (band_cnt - 1).cast("bigint").alias("near_peers"))
        .where(F.col("near_peers") > 0)
    )


# --- Z-order layout (multi-dimensional clustering for data skipping) ---------

_Z_BITS = 8  # bits per dimension; z-value is 2*_Z_BITS wide
_Z_FILES_BITS = 4  # file id = top 4 z bits -> 16 files
_Z_HOUR_MS = 3_600_000


def _z_interleave(u: str, t: str, bits: int) -> str:
    """Bit-interleave expression (Morton code), valid in Spark SQL and
    DuckDB: u's bit b lands at position 2b+1, t's at 2b."""
    terms = []
    for b in range(bits):
        terms.append(f"((({u} >> {b}) & 1) << {2 * b + 1})")
        terms.append(f"((({t} >> {b}) & 1) << {2 * b})")
    return " + ".join(terms)


_Z_U = f"(user_id % {1 << _Z_BITS})"
_Z_T = f"((epoch_ms(ts) // {_Z_HOUR_MS}) % {1 << _Z_BITS})"


@register(
    "zorder_layout_stats",
    f"""
    WITH z AS (
      SELECT {_Z_U} AS u_bucket, {_Z_T} AS t_bucket,
             {_z_interleave(_Z_U, _Z_T, _Z_BITS)} AS zval
      FROM events
    )
    SELECT zval >> {2 * _Z_BITS - _Z_FILES_BITS} AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(u_bucket) AS min_u, MAX(u_bucket) AS max_u,
           MIN(t_bucket) AS min_t, MAX(t_bucket) AS max_t
    FROM z GROUP BY 1
    """,
    "Z-order (Morton-curve) layout for multi-dimensional data skipping: "
    "interleave the bits of (user bucket, hour bucket), assign each row "
    "to an output file by its z-value PREFIX, and emit the per-file "
    "min/max column stats a reader's predicate pushdown would prune on. "
    "A z prefix fixes the top bits of BOTH dimensions, so every file "
    "covers a small rectangle in (user, time) space -- unlike a "
    "single-column sort, where the secondary dimension spans its full "
    "range in every file. Scale: the z-value and file id are pure "
    "map-side integer expressions (prefix assignment IS the range split, "
    "no global sort or NTILE); production writes with "
    "repartitionByRange(zval).sortWithinPartitions(zval) and this stat "
    "table is exactly the parquet footer min/max the scan prunes on.",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = F.pmod(F.col("user_id"), F.lit(1 << _Z_BITS))
    t = F.pmod(F.floor(F.unix_millis("ts") / _Z_HOUR_MS), F.lit(1 << _Z_BITS))
    z = ev.select(u.alias("u_bucket"), t.alias("t_bucket")).select(
        "u_bucket",
        "t_bucket",
        F.expr(_z_interleave("u_bucket", "t_bucket", _Z_BITS)).alias("zval"),
    )
    return (
        z.select(
            F.shiftright("zval", 2 * _Z_BITS - _Z_FILES_BITS).alias("file_id"),
            "u_bucket",
            "t_bucket",
        )
        .groupBy("file_id")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("u_bucket").alias("min_u"),
            F.max("u_bucket").alias("max_u"),
            F.min("t_bucket").alias("min_t"),
            F.max("t_bucket").alias("max_t"),
        )
    )


# --- SCD2 versioned dimension build -----------------------------------------

# Standard SCD2 "high date" sentinel for the open-ended current version
# (9999-01-01 in epoch millis) -- keeps valid_to_ms non-null so both
# engines emit exact BIGINTs.
_SCD2_HIGH_MS = 253402214400000

_SCD2_ORACLE = f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderpriority AS priority,
         epoch_ms(o_orderdate) AS d
  FROM orders
),
flagged AS (
  SELECT *, CASE WHEN priority IS DISTINCT FROM
                      LAG(priority) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey)
                 THEN 1 ELSE 0 END AS chg
  FROM o
),
versioned AS (
  SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS version
  FROM flagged
),
runs AS (
  SELECT o_custkey, version, MIN(priority) AS priority,
         MIN(d) AS valid_from_ms, CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM versioned GROUP BY 1, 2
)
SELECT o_custkey, version, priority, valid_from_ms,
       COALESCE(LEAD(valid_from_ms) OVER (PARTITION BY o_custkey ORDER BY version),
                {_SCD2_HIGH_MS}) AS valid_to_ms,
       LEAD(valid_from_ms) OVER (PARTITION BY o_custkey ORDER BY version) IS NULL
         AS is_current,
       n_orders
FROM runs
"""


@register(
    "scd2_priority_dimension",
    _SCD2_ORACLE,
    "Slowly-changing-dimension type-2 build: per-customer order-priority "
    "change stream collapsed into versioned validity intervals "
    "[valid_from, valid_to) with an is_current flag (gaps-and-islands).",
)
def scd2_priority_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC-to-dimension materialization every warehouse runs: detect
    change points with LAG, number runs with a running SUM of change flags
    (gaps-and-islands), collapse each run to one version row, close each
    interval with the next version's start (LEAD; the SCD2 high-date
    sentinel keeps the current row's valid_to exact-typed).

    100 TB shape: every window and the run aggregate partition by
    o_custkey, so one hash partitioning carries all three stages -- Spark
    plans a single exchange."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.expr("unix_millis(o_orderdate)").alias("d"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    flagged = o.withColumn(
        "chg",
        F.when(
            ~F.col("priority").eqNullSafe(F.lag("priority").over(w)), 1
        ).otherwise(0),
    )
    versioned = flagged.withColumn(
        "version",
        F.sum("chg")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("bigint"),
    )
    runs = versioned.groupBy("o_custkey", "version").agg(
        F.min("priority").alias("priority"),
        F.min("d").alias("valid_from_ms"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
    )
    wv = Window.partitionBy("o_custkey").orderBy("version")
    nxt = F.lead("valid_from_ms").over(wv)
    return runs.select(
        "o_custkey",
        "version",
        "priority",
        "valid_from_ms",
        F.coalesce(nxt, F.lit(_SCD2_HIGH_MS)).alias("valid_to_ms"),
        nxt.isNull().alias("is_current"),
        "n_orders",
    )


# --- GROUPING SETS -----------------------------------------------------------

_GSETS_ORACLE = f"""
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(CAST(CAST((epoch_ms(ts) // 86400000 + 4) % 7 AS BIGINT) AS VARCHAR),
                '(all)') AS weekday,
       CAST(GROUPING(event_type) * 2 +
            GROUPING(CAST((epoch_ms(ts) // 86400000 + 4) % 7 AS BIGINT)) AS BIGINT)
         AS gid,
       {SUM_EXACT_SQL.format(col='value')} AS sum_value, COUNT(*) AS cnt
FROM events
GROUP BY GROUPING SETS (
  (event_type, CAST((epoch_ms(ts) // 86400000 + 4) % 7 AS BIGINT)),
  (event_type),
  (CAST((epoch_ms(ts) // 86400000 + 4) % 7 AS BIGINT)),
  ()
)
"""


@register(
    "grouping_sets_agg",
    _GSETS_ORACLE,
    "Explicit GROUPING SETS (the general form under cube/rollup): "
    "(type, weekday), (type), (weekday), grand total in ONE pass, with a "
    "GROUPING()-derived gid distinguishing real NULL dims from rollups.",
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 DataFrame groupingSets: all four aggregation granularities
    in one shuffle (partial aggregation replicates each row once per
    grouping set map-side, then a single exchange). The gid column is the
    portable GROUPING() encoding -- at 100 TB this replaces four separate
    scans/aggregations of the fact table with one."""
    events = load_table(spark, sf_dir, "events")
    weekday = (
        ((F.unix_millis("ts") / F.lit(86400000)).cast("long") + 4) % 7
    ).cast("long")
    dims = events.select("event_type", weekday.alias("weekday"), "value")
    gs = dims.groupingSets(
        [["event_type", "weekday"], ["event_type"], ["weekday"], []],
        "event_type",
        "weekday",
    ).agg(
        (F.grouping("event_type") * 2 + F.grouping("weekday"))
        .cast("bigint")
        .alias("gid"),
        sum_exact("value", "sum_value"),
        F.count("*").alias("cnt"),
    )
    return gs.select(
        F.coalesce(F.col("event_type"), F.lit("(all)")).alias("event_type"),
        F.coalesce(F.col("weekday").cast("string"), F.lit("(all)")).alias("weekday"),
        "gid",
        "sum_value",
        "cnt",
    )


# --- CDC merge / upsert ------------------------------------------------------

# Deterministic change batch derived from the snapshot itself: deletes take
# precedence over updates when a key matches both rules; inserts use a
# disjoint key range. `pred` restricts which source docs have emitted their
# change event yet (TRUE = the fully-applied changefeed; the time-travel
# oracle passes the replay prefix).
def _merge_oracle(pred: str = "TRUE") -> str:
    return f"""
WITH changes AS (
  SELECT doc_id, 'D' AS op, NULL AS text, NULL AS lang, NULL AS source,
         CAST(NULL AS BIGINT) AS n_chars
  FROM documents WHERE doc_id % 13 = 0 AND ({pred})
  UNION ALL
  SELECT doc_id, 'U', 'v2:' || text, lang, source, n_chars + 3
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0 AND ({pred})
  UNION ALL
  SELECT doc_id + 10000000, 'I', 'new:' || text, lang, 'backfill', n_chars + 4
  FROM documents WHERE doc_id % 50 = 0 AND ({pred})
)
SELECT b.doc_id, md5(b.text) AS content_md5, b.lang, b.source, b.n_chars,
       0 AS version
FROM documents b LEFT JOIN changes c ON c.doc_id = b.doc_id
WHERE c.doc_id IS NULL
UNION ALL
SELECT doc_id, md5(text), lang, source, n_chars, 1
FROM changes WHERE op <> 'D'
"""


_MERGE_ORACLE = _merge_oracle()

# The replay stages documents in 4 doc_id-ordered chunks of ceil(n/4) rows;
# "as of epoch 1" = the changefeed of the first two chunks applied.
_TIME_TRAVEL_PRED = """doc_id IN (
  SELECT rid FROM (
    SELECT doc_id AS rid, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= 2 * CEIL((SELECT COUNT(*) FROM documents) / 4.0)
)"""


@register(
    "merge_upsert_snapshot",
    _MERGE_ORACLE,
    "MERGE INTO semantics as a dataflow: a CDC batch (inserts, updates, "
    "deletes; delete wins on rule overlap) applied to the documents "
    "snapshot -- anti-join survivors plus upserted rows, with a version "
    "column marking changed rows.",
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch shape under Delta/Iceberg MERGE INTO: one equi-join of
    the snapshot against the change batch's keys (LEFT ANTI keeps
    untouched rows where they are -- the snapshot never rewrites rows the
    batch doesn't touch) plus a union of the upserts. At 100 TB both
    sides partition by the merge key; a small change batch broadcasts, so
    the snapshot never shuffles -- the property real MERGE relies on
    (file-level pruning replaces the anti-join's row-level work).
    Emits md5(text) rather than text to keep the result compact."""
    from rlink_rs_spark.streaming.cdc import derive_cdc_changes

    base = load_table(spark, sf_dir, "documents")
    changes = derive_cdc_changes(base)
    untouched = base.join(
        F.broadcast(changes.select("doc_id")), "doc_id", "left_anti"
    ).select(
        "doc_id", F.md5("text").alias("content_md5"), "lang", "source",
        "n_chars", F.lit(0).cast("int").alias("version"),
    )
    upserted = changes.where(F.col("op") != "D").select(
        "doc_id", F.md5("text").alias("content_md5"), "lang", "source",
        "n_chars", F.lit(1).cast("int").alias("version"),
    )
    return untouched.unionByName(upserted)


@register(
    "streaming_cdc_merge",
    _MERGE_ORACLE,  # shared with the batch twin: same changefeed, same MERGE
    "STREAMING CDC MERGE: a changefeed applied continuously to a "
    "persisted BUCKETED snapshot -- each micro-batch rewrites only the "
    "hash buckets its change keys touch (file-level pruning, the Delta/"
    "Iceberg MERGE shape), with per-epoch overwrite commits for "
    "exactly-once across restarts. The drained snapshot equals the "
    "batch MERGE (shared oracle). Closes the continuous-upsert "
    "warehouse shape the reference's sinks (clickhouse_sink.rs:27-102, "
    "plain batched inserts) stop short of.",
)
def streaming_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay documents in 2 doc_id-ordered chunks; each epoch derives its
    chunk's change events and merges them into the carried snapshot,
    touching only changed buckets (streaming/cdc.py). The snapshot never
    fully rewrites -- per-epoch cost is O(changed buckets), not O(corpus)."""
    import tempfile

    from rlink_rs_spark.streaming.cdc import (
        read_merged_snapshot,
        streaming_merge_sink,
        write_base_snapshot,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_")
    write_base_snapshot(load_table(spark, sf_dir, "documents"), work_dir)
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=2,
        order_col="doc_id",
    )
    drain(
        spark,
        lambda: streaming_merge_sink(
            src.select("doc_id", "text", "lang", "source", "n_chars"),
            work_dir=work_dir,
            checkpoint=tempfile.mkdtemp(prefix="rlink_cdc_ck_"),
            # staged chunks are contiguous doc_id slices -> closed-form epoch
            # change keys (streaming/cdc.py, r16 guide §8)
            contiguous_keys=True,
        ),
        "streaming_cdc_merge",
    )
    return read_merged_snapshot(spark, work_dir)


def _cdc_snapshot_artifact(
    spark: SparkSession, sf_dir: str, retain: int
) -> str:
    """Build-once / read-many CDC snapshot (the load_or_build_band_index
    contract, VERDICT r9 #5): the 4-chunk (epoch-semantic) changefeed replay that
    cdc_time_travel and cdc_version_diff both need is driven ONCE per
    (corpus content, retention) into a fingerprint-keyed artifact dir;
    both read-path queries then resolve bucket versions against it. A
    _STREAM_DONE sentinel marks a fully-drained build -- a crash mid-build
    leaves no sentinel and the next caller clears and rebuilds. Sweeping
    here is TORN-BUILD ONLY (the current key): sweeping every r{retain}_*
    sibling made the cache hold one snapshot per retain total, so
    bench.py's sf0.001 warmup evicted the prewarmed sf0.1 artifact and
    every timed CDC query paid a full 4-chunk replay inside its measured
    window (ADVICE r10, cdc_time_travel 5.4s vs version_diff 0.5s on the
    same warm path). Dead-fingerprint entries from regenerated fixtures
    are garbage-collected by bench.sweep_stale_artifacts' liveness pass,
    which keeps any entry whose 16-hex token matches a current fixture --
    warmup-dir and sf-dir snapshots coexist."""
    import os
    import shutil
    import tempfile

    from rlink_rs_spark.queries.dedup import _documents_fingerprint
    from rlink_rs_spark.streaming.cdc import (
        streaming_merge_sink,
        write_base_snapshot,
    )
    from rlink_rs_spark.streaming.deltas import committed_epochs
    from rlink_rs_spark.streaming.sources import file_stream

    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    cache_root = os.path.join(repo_root, "artifacts", "cdc_snapshots")
    key = f"r{retain}_{_documents_fingerprint(sf_dir)}"
    work_dir = os.path.join(cache_root, key)
    # a build that predates the epoch-commit layout of streaming/deltas.py
    # has the sentinel but no committed epochs: rebuild it like a torn one
    if os.path.exists(os.path.join(work_dir, "_STREAM_DONE")) and committed_epochs(
        work_dir
    ):
        return work_dir
    os.makedirs(cache_root, exist_ok=True)
    if os.path.exists(work_dir):  # torn build: clear and rebuild
        shutil.rmtree(work_dir, ignore_errors=True)
    write_base_snapshot(load_table(spark, sf_dir, "documents"), work_dir)
    # chunks=4 is SEMANTIC for this artifact: cdc_time_travel reads
    # before_epoch=2 ("half the changefeed") and cdc_version_diff diffs
    # that bound against the final state -- the epoch grid IS the
    # transaction history under test, so it stays at 4.
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=4,
        order_col="doc_id",
    )
    drain(
        spark,
        lambda: streaming_merge_sink(
            src.select("doc_id", "text", "lang", "source", "n_chars"),
            work_dir=work_dir,
            checkpoint=tempfile.mkdtemp(prefix="rlink_cdc_art_ck_"),
            retain=retain,
            contiguous_keys=True,
        ),
        "cdc snapshot artifact build",
    )
    with open(os.path.join(work_dir, "_STREAM_DONE"), "w"):
        pass
    return work_dir


@register(
    "cdc_time_travel",
    _merge_oracle(_TIME_TRAVEL_PRED),
    "Time travel over the CDC-merged snapshot: read the bucketed "
    "copy-on-write artifact AS OF epoch 1 (half the changefeed applied) "
    "after the full stream has drained, under a Delta-style GC retention "
    "window -- per-bucket version resolution at an epoch bound, the "
    "read path real MERGE tables get from their transaction log.",
)
def cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same replay as streaming_cdc_merge but with retain=8 so GC keeps
    every in-window version, then resolves each bucket to its newest
    version among epochs <= 1 (streaming/cdc.py read_snapshot). The
    oracle applies only the first two chunks' change events -- proving
    as-of reads see exactly the prefix-merged state, untouched by the
    later epochs that have already committed on top. The replay is the
    shared fingerprint-keyed artifact (_cdc_snapshot_artifact): time
    travel is a READ path -- it resolves versions against the standing
    table, it does not re-drive the changefeed."""
    from rlink_rs_spark.streaming.cdc import read_snapshot

    work_dir = _cdc_snapshot_artifact(spark, sf_dir, retain=8)
    return read_snapshot(spark, work_dir, before_epoch=2)


_VDIFF_ORACLE = f"""
WITH old_snap AS ({_merge_oracle(_TIME_TRAVEL_PRED)}),
new_snap AS ({_merge_oracle()})
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'insert'
            WHEN n.doc_id IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       o.content_md5 AS old_md5, n.content_md5 AS new_md5,
       o.n_chars AS old_n_chars, n.n_chars AS new_n_chars
FROM old_snap o FULL JOIN new_snap n ON o.doc_id = n.doc_id
WHERE o.doc_id IS NULL OR n.doc_id IS NULL OR o.content_md5 <> n.content_md5
"""


@register(
    "cdc_version_diff",
    _VDIFF_ORACLE,
    "Version diff over the CDC-merged snapshot (the Delta CDF "
    "table_changes shape): every row inserted, deleted, or updated "
    "between the as-of-epoch-1 state and the fully-merged state, "
    "classified, with old/new content digests. Reads ONLY the buckets "
    "whose resolved version differs between the two bounds.",
)
def cdc_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 4-chunk replay as cdc_time_travel (retain=8 keeps both
    versions in the GC window), then a full-outer join of the two as-of
    reads restricted to changed_buckets(1->final): a bucket resolving to
    the same committed file at both bounds cannot contain differing rows,
    so the diff never reads the untouched fraction -- at 100 TB the cost
    is O(changed buckets), the same file-level pruning contract real CDF
    readers get from the transaction log. Within the pruned set the join
    is bucket-co-partitioned on doc_id. The replay rides the shared
    fingerprint-keyed artifact (_cdc_snapshot_artifact, VERDICT r9 #5):
    a CDF reader diffs the standing table's transaction history, it does
    not rebuild the table per diff -- warm runs pay only the pruned
    two-bound read plus the join."""
    from rlink_rs_spark.streaming.cdc import changed_buckets, read_snapshot

    work_dir = _cdc_snapshot_artifact(spark, sf_dir, retain=8)
    pruned = changed_buckets(work_dir, 2, 1 << 62)
    old = read_snapshot(spark, work_dir, before_epoch=2, buckets=pruned)
    new = read_snapshot(spark, work_dir, before_epoch=1 << 62, buckets=pruned)
    o = old.select(
        F.col("doc_id").alias("o_id"),
        F.col("content_md5").alias("old_md5"),
        F.col("n_chars").alias("old_n_chars"),
    )
    n = new.select(
        F.col("doc_id").alias("n_id"),
        F.col("content_md5").alias("new_md5"),
        F.col("n_chars").alias("new_n_chars"),
    )
    j = o.join(n, o["o_id"] == n["n_id"], "full_outer")
    return (
        j.where(
            F.col("o_id").isNull()
            | F.col("n_id").isNull()
            | (F.col("old_md5") != F.col("new_md5"))
        )
        .select(
            F.coalesce("o_id", "n_id").alias("doc_id"),
            F.when(F.col("o_id").isNull(), "insert")
            .when(F.col("n_id").isNull(), "delete")
            .otherwise("update")
            .alias("change_type"),
            "old_md5",
            "new_md5",
            "old_n_chars",
            "new_n_chars",
        )
    )


@register(
    "cdc_optimize_compaction",
    _MERGE_ORACLE,
    "Delta-style OPTIMIZE over the CDC-merged snapshot: buckets whose "
    "current version accumulated small per-epoch part-files are "
    "rewritten -- rows unchanged -- as single-file versions under a "
    "synthetic commit epoch; the post-OPTIMIZE read equals the batch "
    "MERGE (shared oracle) and every as-of bound still resolves the "
    "original version chain. The table-maintenance op real lakehouse "
    "tables need once files pile up.",
)
def cdc_optimize_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run OPTIMIZE (streaming/cdc.py optimize_snapshot) against a copy of
    the shared snapshot artifact (the shared dir stays pristine for the
    time-travel/diff readers), then read the merged result through the
    ordinary resolution path -- proving reader equivalence by the same
    oracle hash the MERGE stream answers to. The copy is O(snapshot
    metadata) at fixture scale; in production OPTIMIZE rewrites in place
    between stream epochs and commits like any epoch
    (crash-mid-OPTIMIZE invisibility is pytest-pinned)."""
    import shutil
    import tempfile

    from rlink_rs_spark.streaming.cdc import (
        optimize_snapshot,
        read_merged_snapshot,
    )

    src_dir = _cdc_snapshot_artifact(spark, sf_dir, retain=8)
    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_opt_")
    shutil.copytree(src_dir, work_dir, dirs_exist_ok=True)
    stats = optimize_snapshot(spark, work_dir, max_files_per_bucket=1)
    assert stats["files_after"] <= stats["files_before"]
    return read_merged_snapshot(spark, work_dir)


# --- key-skew diagnostics ----------------------------------------------------

_SKEW_TOP_K = 10

_SKEW_ORACLE = f"""
WITH per_key AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY user_id
),
tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS total, CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM per_key
)
SELECT rank, user_id, cnt,
       CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(cnt AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE) AS x_mean,
       n_keys, total
FROM (SELECT user_id, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS INT) AS rank
      FROM per_key) CROSS JOIN tot
WHERE rank <= {_SKEW_TOP_K}
"""


@register(
    "key_skew_report",
    _SKEW_ORACLE,
    "Partitioning-skew diagnostics: top-10 heaviest user_id keys with "
    "table share and times-mean factor -- the measurement that decides "
    "when the salting / AQE-skew guards are worth their overhead.",
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The diagnostic behind every skew decision in this repo (the LSH
    auto-salt guard, salted_hot_key_agg, AQE skew joins): one per-key
    count (map-side combined), a 1-row totals broadcast, and a top-k rank
    over the KEY TABLE (not the fact table). x_mean > ~5 on a key is the
    usual threshold where a straight hash partition develops stragglers
    and salting pays. At 100 TB the per-key count table is the only
    shuffle and is itself the salting decision input -- you run this
    once per ingest, not per query."""
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    tot = per_key.agg(
        F.sum("cnt").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("user_id"))
    return (
        per_key.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= _SKEW_TOP_K)
        .crossJoin(F.broadcast(tot))
        .select(
            "rank",
            "user_id",
            "cnt",
            (F.col("cnt").cast("double") / F.col("total").cast("double")).alias("share"),
            (
                F.col("cnt").cast("double")
                * F.col("n_keys").cast("double")
                / F.col("total").cast("double")
            ).alias("x_mean"),
            "n_keys",
            "total",
        )
    )


# --- interval-containment range join ------------------------------------------

_RJ_EPOCH = "1992-01-01"
_RJ_BUCKET_DAYS = 91  # ~ one bucket per quarter: fixture fulfillment windows
                      # average ~700 days -> ~8 bucket replicas per interval


@register(
    "open_orders_range_join",
    """
    WITH iv AS (
      SELECT o.o_custkey, o.o_orderkey, o.o_orderdate AS s, MAX(l.l_shipdate) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2, 3
    )
    SELECT p.o_orderkey, CAST(COUNT(*) AS BIGINT) AS open_orders
    FROM iv a JOIN orders p
      ON p.o_custkey = a.o_custkey
     AND p.o_orderkey <> a.o_orderkey
     AND a.s <= p.o_orderdate AND p.o_orderdate <= a.e
    GROUP BY p.o_orderkey
    """,
    "Interval-containment RANGE JOIN (the brief's range-join operator, "
    "batch form): for each order, how many of the same customer's OTHER "
    "orders were still open (order placed, last line not yet shipped) at "
    "its order date. Implemented as a bucket-expansion equi-join: the "
    "INTERVAL side explodes into its covered 91-day buckets, the point "
    "side maps to exactly one bucket, the join key is (custkey, bucket), "
    "and the exact containment predicate filters after the hash join -- "
    "every qualifying pair matches exactly once (the point's bucket), so "
    "no dedup step. The oracle states the same join as the naive theta "
    "join.",
)
def open_orders_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The interval twin of the (former) value_band_join bucket pattern --
    and the case where bucketing IS the right scale plan (unlike 1-D band
    counts, interval containment has no single ordering to window over
    when intervals overlap arbitrarily). Scale: the join is keyed by
    customer so per-key density is a per-customer bound; bucket width is
    chosen so an interval replicates ~8x (span/91d), trading bounded
    replication for a pure equi-join that AQE can plan -- the non-equi
    predicate never becomes a nested loop. At 100 TB, re-derive the width
    from the observed span distribution (key_skew_report's job)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    day = lambda c: F.datediff(F.col(c).cast("date"), F.lit(_RJ_EPOCH).cast("date"))  # noqa: E731
    iv = (
        orders.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("e"))
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("iv_orderkey"),
            F.col("o_orderdate").alias("s"),
            "e",
            F.explode(
                F.sequence(
                    F.floor(day("o_orderdate") / _RJ_BUCKET_DAYS),
                    F.floor(F.datediff(F.col("e").cast("date"), F.lit(_RJ_EPOCH).cast("date")) / _RJ_BUCKET_DAYS),
                )
            ).alias("bucket"),
        )
    )
    pts = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("p_orderkey"),
        F.col("o_orderdate").alias("t"),
        F.floor(day("o_orderdate") / _RJ_BUCKET_DAYS).alias("bucket"),
    )
    return (
        iv.join(pts, ["custkey", "bucket"])
        .where(
            (F.col("iv_orderkey") != F.col("p_orderkey"))
            & (F.col("s") <= F.col("t"))
            & (F.col("t") <= F.col("e"))
        )
        .groupBy(F.col("p_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("open_orders"))
    )


# --- anti-entropy table reconciliation --------------------------------------

# Engine-portable 48-bit row fingerprint over a CANONICAL projection:
# integer keys + integer cents -- never raw float-to-string casts, whose
# formatting is engine-specific. 48 bits (12 hex chars) keeps the per-
# bucket XOR fold far from any BIGINT edge in both engines.
_CK_ROW = (
    "CAST(('0x' || substr(md5("
    "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|' || "
    "CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR) || '|' || "
    "CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS VARCHAR) || '|' || "
    "CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS VARCHAR)"
    "), 1, 12)) AS BIGINT)"
)
_CK_ROW_SPARK = (
    "CAST(conv(substr(md5("
    "CAST(l_orderkey AS STRING) || '|' || CAST(l_linenumber AS STRING) || '|' || "
    "CAST(l_partkey AS STRING) || '|' || CAST(l_suppkey AS STRING) || '|' || "
    "CAST(CAST(ROUND(l_quantity * 100) AS BIGINT) AS STRING) || '|' || "
    "CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS STRING)"
    "), 1, 12), 16, 10) AS BIGINT)"
)
_CK_BUCKETS = 256
# deterministic replica drift, derived in-query so the oracle can mirror it:
# one deletion stripe and one silent-corruption stripe
_CK_DROP = "l_orderkey % 997 = 0"
_CK_CORRUPT = "l_partkey % 1009 = 0"

_CK_ORACLE = f"""
WITH base AS (
  SELECT *, CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '#' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 12)) AS BIGINT) % {_CK_BUCKETS} AS bucket
  FROM lineitem
),
lhs AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_left,
         bit_xor({_CK_ROW}) AS xor_left
  FROM base GROUP BY bucket
),
replica AS (
  SELECT bucket, l_orderkey, l_linenumber, l_partkey, l_suppkey,
         CASE WHEN {_CK_CORRUPT} THEN l_quantity + 1.0 ELSE l_quantity END AS l_quantity,
         l_extendedprice
  FROM base WHERE NOT ({_CK_DROP})
),
rhs AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_right,
         bit_xor({_CK_ROW}) AS xor_right
  FROM replica GROUP BY bucket
)
SELECT l.bucket, l.n_left, COALESCE(r.n_right, 0) AS n_right,
       l.xor_left, COALESCE(r.xor_right, 0) AS xor_right
FROM lhs l LEFT JOIN rhs r ON l.bucket = r.bucket
WHERE r.bucket IS NULL OR l.n_left <> r.n_right OR l.xor_left <> r.xor_right
"""


@register(
    "table_checksum_diff",
    _CK_ORACLE,
    "Anti-entropy reconciliation (the Merkle-leaf level of replica "
    "repair): both table copies fold MAP-SIDE into per-bucket (count, "
    "XOR-of-row-fingerprints) summaries -- order-independent, overflow-"
    "free, combinable -- and only the 256-row summaries join; output = "
    "the buckets that disagree, localizing divergence to 1/256 of the "
    "data without ever shuffling a corpus row. The replica here is "
    "derived in-query with one deletion stripe and one corruption "
    "stripe so the oracle mirrors it exactly; at 100 TB the bucket "
    "count scales with data and the tree gains levels (bucket-of-"
    "buckets), keeping every comparison tiny.",
)
def table_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each side: one map-side fingerprint projection + one combinable
    groupBy on a 256-value key; the mismatch join touches 256-row
    aggregates only. Float columns enter the fingerprint as integer
    cents (ROUND(x*100)) -- raw float casts format differently across
    engines and would poison the checksum."""
    from rlink_rs_spark.operators.repartition import fan_out

    # r15 single-pass rewrite (guide §2.4 "remove shuffles outright"):
    # both replica sides fold in ONE scan + ONE 256-key exchange via
    # conditional aggregates -- XOR-with-0 is the identity, so the rhs
    # checksum is bit_xor(IF(kept, fp_rhs, 0)) over ALL rows, exactly the
    # filtered bit_xor the two-sided plan computed. The rhs fingerprint
    # reuses the lhs fingerprint column except on the corruption stripe
    # (CASE branches evaluate lazily), so the md5 work per row is ~1x,
    # not 2x. A bucket whose rows are all dropped yields n_right=0 /
    # xor_right=0, the same values the old left-join + COALESCE produced,
    # and n_left != 0 flags it -- output rows identical to the oracle's.
    # Old plan: 2 scans, 2 exchanges, 1 join (was 3.35s board / 2 scans);
    # fan_out spreads the one-row-group fixture scan (no-op multi-file).
    li = fan_out(load_table(spark, sf_dir, "lineitem"))
    fp_rhs_md5 = _CK_ROW_SPARK.replace(
        "ROUND(l_quantity * 100)", "ROUND((l_quantity + 1.0) * 100)"
    )
    proj = li.select(
        F.expr(
            "CAST(conv(substr(md5(CAST(l_orderkey AS STRING) || '#' || "
            f"CAST(l_linenumber AS STRING)), 1, 12), 16, 10) AS BIGINT) % {_CK_BUCKETS}"
        ).alias("bucket"),
        F.expr(_CK_ROW_SPARK).alias("fp"),
        F.expr(f"NOT ({_CK_DROP})").alias("kept"),
        # corrupted-row fingerprint, NULL off the stripe (lazy CASE: the
        # second md5 only ever runs for the ~1/1009 corrupt rows)
        F.expr(
            f"CASE WHEN {_CK_CORRUPT} THEN {fp_rhs_md5} "
            "ELSE CAST(NULL AS BIGINT) END"
        ).alias("fpc"),
    ).select(
        "bucket",
        "fp",
        "kept",
        F.coalesce("fpc", "fp").alias("fp_rhs"),
    )
    return (
        proj.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_left"),
            F.expr("bit_xor(fp)").alias("xor_left"),
            F.expr("count_if(kept)").cast("bigint").alias("n_right"),
            F.expr("bit_xor(CASE WHEN kept THEN fp_rhs ELSE 0L END)").alias(
                "xor_right"
            ),
        )
        .where(
            (F.col("n_left") != F.col("n_right"))
            | (F.col("xor_left") != F.col("xor_right"))
        )
        .select("bucket", "n_left", "n_right", "xor_left", "xor_right")
    )


# --- blocked fuzzy record linkage -------------------------------------------

_FZ_MAXDIST = 3

_FZ_ORACLE = f"""
WITH names AS (
  SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
  FROM part GROUP BY p_name
),
blocked AS (
  SELECT p_name, n_parts, string_split(p_name, ' ')[-1] AS block
  FROM names
)
SELECT a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
       a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= {_FZ_MAXDIST}
"""


@register(
    "fuzzy_name_linkage",
    _FZ_ORACLE,
    "Entity resolution by BLOCKED edit-distance linkage: distinct entity "
    "names (one combinable aggregate over the corpus -- the only "
    "corpus-sized work) self-join ONLY within a blocking key (the head "
    "noun), then exact levenshtein <= 3 verifies candidates. The "
    "pair-generation cost is sum of block-size^2 over blocks, never "
    "n^2; at 100 TB the blocking key widens to (noun, length band) and "
    "hot blocks salt exactly like the LSH band join "
    "(operators/dedup.py auto_salt_buckets). The record-linkage / "
    "fuzzy-dedup primitive the exact and MinHash families can't cover "
    "(typo-distance, not token-overlap).",
)
def fuzzy_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct names with their part counts (64 rows here; bounded by
    vocabulary, not corpus), blocked on the last token; per-block pairs
    verified with Spark's built-in levenshtein (identical classic DP
    distance in DuckDB, so the dist column value-hash matches)."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    blocked = names.withColumn(
        "block", F.element_at(F.split("p_name", " "), -1)
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .withColumn("dist", F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).cast("int"))
        .where(F.col("dist") <= _FZ_MAXDIST)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            "dist",
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("b.n_parts").alias("n_parts_b"),
        )
    )


# --- temporal (point-in-time) dimension join --------------------------------

def _temporal_join_oracle() -> str:
    """Composes the registered SCD2 oracle verbatim (the ensemble-gate
    pattern) so the lookup cannot drift from the dimension it reads."""
    from rlink_rs_spark.queries.base import REGISTRY as _R

    return f"""
WITH dim AS ({_R["scd2_priority_dimension"].oracle})
SELECT o.o_orderkey, o.o_custkey, epoch_ms(o.o_orderdate) AS order_ms,
       d.version, d.priority AS priority_at_order
FROM orders o JOIN dim d
  ON o.o_custkey = d.o_custkey
 AND epoch_ms(o.o_orderdate) >= d.valid_from_ms
 AND epoch_ms(o.o_orderdate) <  d.valid_to_ms
"""


@register(
    "temporal_dimension_join",
    _temporal_join_oracle(),
    "Point-in-time (temporal) dimension lookup: each fact row joins the "
    "SCD2 version VALID AT ITS OWN event time -- the query every "
    "versioned-dimension warehouse runs for non-leaking historical "
    "features (a training-data must: joining the current row instead "
    "leaks the future). Plan: hash equi-join on the dimension key with "
    "the interval containment as a post-join filter -- versions per key "
    "are few, so the filter prunes a bounded factor; contiguous SCD2 "
    "intervals guarantee exactly one match per fact. Dimension and "
    "oracle are the registered scd2_priority_dimension verbatim.",
)
def temporal_dimension_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At 100 TB the dim stays orders of magnitude smaller than facts
    (broadcast when it fits, else both sides hash on the key); the
    interval filter never becomes a range explosion because SCD2
    versions partition time per key."""
    dim = scd2_priority_dimension(spark, sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    o_ms = F.unix_millis("o_orderdate")
    return (
        orders.join(dim, "o_custkey")
        .where((o_ms >= F.col("valid_from_ms")) & (o_ms < F.col("valid_to_ms")))
        .select(
            "o_orderkey",
            "o_custkey",
            o_ms.alias("order_ms"),
            "version",
            F.col("priority").alias("priority_at_order"),
        )
    )


_EVOLVE_ORACLE = """
WITH firsthalf AS (
  SELECT rid FROM (
    SELECT doc_id AS rid, ROW_NUMBER() OVER (ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= 2 * CEIL((SELECT COUNT(*) FROM documents) / 4.0)
),
changes AS (
  SELECT doc_id, 'D' AS op, NULL AS text, NULL AS lang, NULL AS source,
         CAST(NULL AS BIGINT) AS n_chars, CAST(NULL AS INT) AS rev
  FROM documents WHERE doc_id % 13 = 0
  UNION ALL
  SELECT doc_id, 'U', 'v2:' || text, lang, source, n_chars + 3,
         CASE WHEN doc_id NOT IN (SELECT rid FROM firsthalf)
              THEN CAST(1 AS INT) END
  FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 10000000, 'I', 'new:' || text, lang, 'backfill', n_chars + 4,
         CASE WHEN doc_id NOT IN (SELECT rid FROM firsthalf)
              THEN CAST(1 AS INT) END
  FROM documents WHERE doc_id % 50 = 0
)
SELECT b.doc_id, md5(b.text) AS content_md5, b.lang, b.source, b.n_chars,
       0 AS version, CAST(NULL AS INT) AS rev
FROM documents b LEFT JOIN changes c ON c.doc_id = b.doc_id
WHERE c.doc_id IS NULL
UNION ALL
SELECT doc_id, md5(text), lang, source, n_chars, 1, rev
FROM changes WHERE op <> 'D'
"""


@register(
    "cdc_schema_evolution",
    _EVOLVE_ORACLE,
    "Mid-stream ADD COLUMN on the CDC snapshot: epochs 2+ write schema "
    "v2 (+ rev int) while epochs 0-1 and the base stay on v1 -- old "
    "buckets are NEVER rewritten for the evolution; the wide reader "
    "fills their missing column with NULL (parquet reader-side "
    "evolution, the mechanism Delta/Iceberg column adds ride on). "
    "Oracle: rows upserted by the second half of the changefeed carry "
    "rev=1, everything else NULL.",
)
def cdc_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same 4-chunk replay as streaming_cdc_merge with
    evolve_rev_from=2 (streaming/cdc.py); the drained wide read proves
    v1 buckets surface rev=NULL without rewrite while v2 buckets carry
    their stamped revision."""
    import tempfile

    from rlink_rs_spark.streaming.cdc import (
        _SNAP_SCHEMA_V2,
        read_snapshot,
        streaming_merge_sink,
        write_base_snapshot,
    )
    from rlink_rs_spark.streaming.sources import file_stream

    work_dir = tempfile.mkdtemp(prefix="rlink_cdc_evo_")
    write_base_snapshot(load_table(spark, sf_dir, "documents"), work_dir)
    # chunks=4 is SEMANTIC here (unlike the fixture-scale 2-chunk replays):
    # evolve_rev_from=2 needs epochs on both sides of the evolution
    # boundary, and the oracle's firsthalf CTE is the 2-of-4-chunk split.
    src = file_stream(
        spark, sf_dir, "documents", max_files_per_trigger=1, chunks=4,
        order_col="doc_id",
    )
    drain(
        spark,
        lambda: streaming_merge_sink(
            src.select("doc_id", "text", "lang", "source", "n_chars"),
            work_dir=work_dir,
            checkpoint=tempfile.mkdtemp(prefix="rlink_cdc_evo_ck_"),
            evolve_rev_from=2,
            contiguous_keys=True,
        ),
        "cdc_schema_evolution",
    )
    return read_snapshot(spark, work_dir, 1 << 62, schema=_SNAP_SCHEMA_V2)


# --- declarative data-quality constraint suite ------------------------------

_EVENT_TYPES = "('click', 'signup', 'purchase', 'error', 'view')"

_CONSTRAINT_ORACLE = f"""
WITH report AS (
  SELECT 'orders' AS table_name, 'unique_o_orderkey' AS constraint_name,
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS violations
  FROM orders
  UNION ALL
  SELECT 'orders', 'complete_o_custkey',
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders', 'positive_o_totalprice',
         CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem', 'quantity_in_1_50',
         CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'discount_in_0_1',
         CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'ref_l_orderkey_in_orders',
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem l WHERE NOT EXISTS
    (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'customer', 'unique_c_custkey',
         CAST(COUNT(*) - COUNT(DISTINCT c_custkey) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'customer', 'nonneg_c_acctbal',
         CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
  FROM customer
  UNION ALL
  SELECT 'events', 'event_type_in_set',
         CAST(SUM(CASE WHEN event_type NOT IN {_EVENT_TYPES}
                        OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
  UNION ALL
  SELECT 'events', 'complete_user_id',
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
SELECT table_name, constraint_name, violations,
       violations = 0 AS passed
FROM report
"""


@register(
    "constraint_check_report",
    _CONSTRAINT_ORACLE,
    "Declarative data-quality constraint suite (the Deequ/expectations "
    "shape): uniqueness, completeness, range, set-membership, and "
    "referential-integrity checks over four tables, one violations row "
    "per constraint with a passed verdict. All of a table's row-local "
    "checks evaluate in ONE aggregate pass over it.",
)
def constraint_check_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 TB shape: each table is scanned ONCE for all its row-local
    constraints (conditional counts fused into a single map-side-combined
    aggregate); uniqueness adds the per-table count-distinct exchange and
    referential integrity one anti-join shuffle co-partitioned on the
    key -- the irreducible cost of those checks. The report itself is a
    few dozen rows assembled by stack() on the 1-row aggregates, never a
    corpus shuffle. The fixture intentionally exercises both verdicts:
    TPC-H account balances go negative (nonneg_c_acctbal FAILS) while the
    key constraints hold."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    events = load_table(spark, sf_dir, "events")

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    o = orders.agg(
        (F.count("*") - F.count_distinct("o_orderkey")).cast("bigint").alias("u"),
        viol(F.col("o_custkey").isNull()).alias("c"),
        viol(F.col("o_totalprice") <= 0).alias("p"),
    ).selectExpr(
        "stack(3, 'unique_o_orderkey', u, 'complete_o_custkey', c, "
        "'positive_o_totalprice', p) AS (constraint_name, violations)"
    ).select(F.lit("orders").alias("table_name"), "constraint_name", "violations")

    li = lineitem.agg(
        viol((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).alias("q"),
        viol((F.col("l_discount") < 0) | (F.col("l_discount") > 1)).alias("d"),
    ).selectExpr(
        "stack(2, 'quantity_in_1_50', q, 'discount_in_0_1', d) "
        "AS (constraint_name, violations)"
    ).select(F.lit("lineitem").alias("table_name"), "constraint_name", "violations")

    ref = (
        lineitem.join(
            orders.select("o_orderkey"),
            lineitem["l_orderkey"] == F.col("o_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("bigint").alias("violations"))
        .select(
            F.lit("lineitem").alias("table_name"),
            F.lit("ref_l_orderkey_in_orders").alias("constraint_name"),
            "violations",
        )
    )

    cu = customer.agg(
        (F.count("*") - F.count_distinct("c_custkey")).cast("bigint").alias("u"),
        viol(F.col("c_acctbal") < 0).alias("n"),
    ).selectExpr(
        "stack(2, 'unique_c_custkey', u, 'nonneg_c_acctbal', n) "
        "AS (constraint_name, violations)"
    ).select(F.lit("customer").alias("table_name"), "constraint_name", "violations")

    report = (
        o.unionByName(li)
        .unionByName(ref)
        .unionByName(cu)
        .unionByName(_events_constraint_rows(events))
    )
    return report.withColumn("passed", F.col("violations") == 0)


def _events_constraint_rows(events: DataFrame) -> DataFrame:
    """The events table's row-local constraint violations as (table_name,
    constraint_name, violations) rows -- ONE aggregate pass. Violation
    counts are sum-mergeable, so the streaming monitor applies this same
    function per micro-batch and folds the deltas."""

    def viol(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return (
        events.agg(
            viol(
                ~F.col("event_type").isin("click", "signup", "purchase", "error", "view")
                | F.col("event_type").isNull()
            ).alias("s"),
            viol(F.col("user_id").isNull()).alias("c"),
        )
        .selectExpr(
            "stack(2, 'event_type_in_set', s, 'complete_user_id', c) "
            "AS (constraint_name, violations)"
        )
        .select(F.lit("events").alias("table_name"), "constraint_name", "violations")
    )


_EVENTS_CONSTRAINT_ORACLE = f"""
WITH report AS (
  SELECT 'events' AS table_name, 'event_type_in_set' AS constraint_name,
         CAST(SUM(CASE WHEN event_type NOT IN {_EVENT_TYPES}
                        OR event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations
  FROM events
  UNION ALL
  SELECT 'events', 'complete_user_id',
         CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM events
)
SELECT table_name, constraint_name, violations,
       violations = 0 AS passed
FROM report
"""


@register(
    "streaming_constraint_monitor",
    _EVENTS_CONSTRAINT_ORACLE,
    "CONTINUOUS data-quality monitoring: the events stream's row-local "
    "constraints (set-membership, completeness) evaluate per micro-batch "
    "into per-epoch violation-count deltas; counts are sum-mergeable, so "
    "the drained fold equals the batch suite's verdicts on the same "
    "table (shared constraint expressions with constraint_check_report).",
)
def streaming_constraint_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The monitor state is O(constraints), never O(rows): each epoch
    writes its 2-row violation delta (the generic delta-sink protocol,
    exactly-once by overwrite commit), and the standing report is a
    SUM over committed deltas. At 100 TB the per-epoch aggregate is
    map-side-combined over the batch only -- monitoring cost scales with
    ingest rate, not table size, which is why this shape (not a nightly
    full-table scan) is how production expectation suites watch streams."""
    import tempfile

    from rlink_rs_spark.streaming.deltas import delta_sink, read_deltas
    from rlink_rs_spark.streaming.sources import file_stream

    state = tempfile.mkdtemp(prefix="rlink_cmon_")
    src = file_stream(
        spark, sf_dir, "events", max_files_per_trigger=1, chunks=3, order_col="ts"
    ).select("event_type", "user_id")
    drain(
        spark,
        lambda: delta_sink(
            src,
            _events_constraint_rows,
            state,
            tempfile.mkdtemp(prefix="rlink_cmon_ck_"),
        ),
        "streaming_constraint_monitor",
    )
    rep = (
        read_deltas(
            spark, state, "table_name string, constraint_name string, violations bigint"
        )
        .groupBy("table_name", "constraint_name")
        .agg(F.sum("violations").cast("bigint").alias("violations"))
    )
    return rep.withColumn("passed", F.col("violations") == 0)

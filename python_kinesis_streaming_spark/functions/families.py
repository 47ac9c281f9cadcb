"""§2.8 Scalar function families (SURVEY.md) — one op per family, each a
deterministic projection exercising the family's functions end-to-end.

Cross-engine semantics pinned here (all verified empirically):
- DuckDB `dayofweek` is 0=Sunday, Spark is 1=Sunday → oracle adds 1.
- DuckDB `floor/ceil(double)` → DOUBLE, Spark → LONG → oracle casts BIGINT.
- DuckDB `regexp_replace` replaces first match unless 'g' — Spark replaces
  all → oracle passes 'g'.
- Transcendentals (ln/log10/pow) are not guaranteed correctly-rounded and
  may differ 1 ulp between JVM and libm → rounded via the shared
  floor-based `rnd`/`sql_rnd` (sqrt IS IEEE-exact; left raw).
- Spark `posexplode` pos is 0-based; DuckDB `generate_subscripts` is
  1-based → oracle subtracts 1.

Scale notes (100 TB): every op here is a narrow, stateless, codegen'd
projection — no shuffle, no Python; throughput is scan-bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from python_kinesis_streaming_spark.functions.rounding import rnd, sql_rnd
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table, table_view


@op(
    "fn_string",
    oracle="""
        SELECT c_custkey,
               lower(c_name)                              AS lo,
               upper(c_mktsegment)                        AS up,
               substring(c_name, 1, 8)                    AS sub8,
               array_to_string(string_split(c_name, '#'), '|') AS parts,
               trim(concat(' ', c_name, ' '))             AS trimmed,
               concat_ws('-', c_mktsegment, c_name)       AS joined,
               regexp_extract(c_name, '(\\d+)', 1)        AS digits,
               regexp_replace(c_name, '0', '', 'g')       AS no_zeros,
               CAST(length(c_name) AS INTEGER)            AS name_len,
               lpad(CAST(c_custkey AS VARCHAR), 12, '0')  AS padded
        FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: case, substring, split, trim, concat_ws, regex, pad."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.lower("c_name").alias("lo"),
        F.upper("c_mktsegment").alias("up"),
        F.substring("c_name", 1, 8).alias("sub8"),
        F.concat_ws("|", F.split("c_name", "#")).alias("parts"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("joined"),
        F.regexp_extract("c_name", r"(\d+)", 1).alias("digits"),
        F.regexp_replace("c_name", "0", "").alias("no_zeros"),
        F.length("c_name").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("padded"),
    )


@op(
    "fn_date",
    oracle="""
        SELECT o_orderkey,
               CAST(date_trunc('day', o_orderdate) AS TIMESTAMP)  AS day,
               date_trunc('hour', o_orderdate)                    AS hour,
               CAST(year(o_orderdate) AS INTEGER)                 AS yr,
               CAST(month(o_orderdate) AS INTEGER)                AS mo,
               CAST(dayofweek(o_orderdate) + 1 AS INTEGER)        AS dow,
               CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
               o_orderdate + INTERVAL 30 DAY                      AS plus30,
               CAST(epoch(o_orderdate) AS BIGINT)                 AS unix_sec,
               strftime(o_orderdate, '%Y-%m-%d')                  AS fmt
        FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date family: trunc, parts, dayofweek, datediff, add, unix, format."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.date_trunc("hour", "o_orderdate").alias("hour"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mo"),
        F.dayofweek("o_orderdate").alias("dow"),
        F.datediff("o_orderdate", F.lit("1995-01-01")).alias("days_since"),
        # date_add returns DATE (repo policy: no DATE results) → timestamp
        F.date_add("o_orderdate", 30).cast("timestamp").alias("plus30"),
        F.unix_timestamp("o_orderdate").alias("unix_sec"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("fmt"),
    )


@op(
    "fn_math",
    oracle=f"""
        SELECT l_orderkey, l_linenumber,
               {sql_rnd("l_extendedprice")}                        AS rounded,
               CAST(floor(l_extendedprice) AS BIGINT)              AS flr,
               CAST(ceil(l_extendedprice) AS BIGINT)               AS cl,
               abs(l_extendedprice - 30000.0)                      AS dist,
               {sql_rnd("pow(l_quantity, 2.0)", 6)}                AS q_sq,
               sqrt(l_extendedprice)                               AS rt,
               {sql_rnd("ln(l_extendedprice)", 6)}                 AS log_e,
               {sql_rnd("log10(l_extendedprice)", 6)}              AS log_10,
               CAST(sign(l_extendedprice - 30000.0) AS INTEGER)    AS sgn,
               CAST(mod(l_orderkey, 7) AS BIGINT)                  AS key_mod
        FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: rounding, floor/ceil, abs, pow, sqrt, logs, sign, mod."""
    li = load_table(spark, sf_dir, "lineitem")
    ep = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        rnd(ep).alias("rounded"),
        F.floor(ep).alias("flr"),
        F.ceil(ep).alias("cl"),
        F.abs(ep - 30000.0).alias("dist"),
        rnd(F.pow("l_quantity", 2.0), 6).alias("q_sq"),
        F.sqrt(ep).alias("rt"),
        rnd(F.log(ep), 6).alias("log_e"),
        rnd(F.log10(ep), 6).alias("log_10"),
        F.signum(ep - 30000.0).cast("int").alias("sgn"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod"),
    )


@op(
    "fn_array",
    oracle=f"""
        SELECT vec_id,
               generate_subscripts(embedding[1:4], 1) - 1            AS pos,
               unnest(embedding[1:4])                                AS val,
               CAST(len(embedding) AS INTEGER)                       AS n_dims,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
               array_to_string(list_transform(list_sort(embedding[1:4]),
                   x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 10000 + 0.505) AS BIGINT) AS VARCHAR)), ',') AS first4_sorted,
               {sql_rnd("list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))", 4)} AS norm_sq
        FROM embeddings
    """,
    scale="HOFs (transform/filter/aggregate) run in codegen JVM-side — the vectorized path for array<float> embedding columns.",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: slice, size, sort, posexplode, higher-order
    transform/filter/aggregate on the 64-d embedding column."""
    e = load_table(spark, sf_dir, "embeddings")
    first4 = F.slice("embedding", 1, 4)
    dot_self = F.aggregate(
        F.zip_with("embedding", "embedding",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id",
        F.posexplode(first4).alias("pos", "val"),
        F.size("embedding").alias("n_dims"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        # Stringified with fixed-point int encoding: float->string formatting
        # differs across engines; ints don't. Top-level arrays crash the
        # driver's canonicalizer (r1 agg_collect FAIL class).
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(first4),
                lambda x: F.floor(x.cast("double") * 10000 + F.lit(0.505)).cast("string"),
            ),
        ).alias("first4_sorted"),
        rnd(dot_self, 4).alias("norm_sq"),
    )


@op(
    "fn_map",
    oracle="""
        SELECT event_id,
               array_to_string(list_sort(json_keys(props)), ',')  AS ks,
               CAST(json_extract(props, '$.k') AS INTEGER)        AS k_val,
               CAST(len(json_keys(props)) AS INTEGER)             AS n_keys
        FROM events
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family: JSON payload → MapType, keys/values/element_at/size."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,int>")
    return ev.select(
        "event_id",
        F.concat_ws(",", F.array_sort(F.map_keys(m))).alias("ks"),
        F.element_at(m, "k").alias("k_val"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@op(
    "fn_json",
    oracle="""
        SELECT event_id,
               json_extract_string(props, '$.k')                  AS k_str,
               CAST(json_extract(props, '$.k') AS INTEGER)        AS k_int,
               replace(props, ' ', '')                            AS roundtrip,
               props LIKE '%"k"%'                                 AS has_k
        FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: get_json_object, from_json→to_json round-trip, predicates.

    The roundtrip column relies on Spark's to_json emitting minified JSON;
    the oracle minifies the source text (fixture payloads are '{"k": N}')."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.from_json("props", "k INT").getField("k").alias("k_int"),
        F.to_json(F.from_json("props", "k INT")).alias("roundtrip"),
        F.col("props").like('%"k"%').alias("has_k"),
    )


@op(
    "fn_bitwise",
    oracle="""
        SELECT event_id,
               event_id & 255 AS band,
               event_id | 4096 AS ord_,
               xor(event_id, user_id) AS xo,
               event_id << 2 AS shl,
               event_id >> 3 AS shr
        FROM events
    """,
    scale="Bitwise ops are codegen'd integer ALU ops - scan-stage, free.",
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: and/or/xor/shifts (band keys, bloom bits, salts)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("band"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("ord_"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("xo"),
        F.shiftleft("event_id", 2).alias("shl"),
        F.shiftright("event_id", 3).alias("shr"),
    )


@op(
    "fn_struct",
    oracle="""
        SELECT event_id,
               {'etype': event_type, 'val': value}.etype AS unpacked_type,
               {'etype': event_type, 'val': value}.val AS unpacked_val
        FROM events
    """,
    scale=(
        "Struct columns are zero-cost at plan level (no serialization until "
        "a sink); nested field access prunes to just the touched leaves. "
        "Output carries only unpacked scalar leaves: struct RESULT columns "
        "serialize differently across fetch paths (Arrow dict vs Row tuple) "
        "and are not hash-comparable cross-engine."
    ),
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct pack/unpack: named_struct built then field-accessed in one
    projection (the struct lives only inside the plan)."""
    ev = load_table(spark, sf_dir, "events")
    pack = F.struct(
        F.col("event_type").alias("etype"), F.col("value").alias("val")
    )
    return ev.select(
        "event_id",
        pack.getField("etype").alias("unpacked_type"),
        pack.getField("val").alias("unpacked_val"),
    )


@op(
    "agg_approx_quantile",
    oracle="""
        SELECT event_type,
               floor((quantile_cont(value, 0.5))  * 100.0 + 0.505) / 100.0 AS p50_exact,
               floor((quantile_cont(value, 0.95)) * 100.0 + 0.505) / 100.0 AS p95_exact,
               TRUE AS within_tol
        FROM events GROUP BY event_type
    """,
    scale=(
        "approx_percentile = mergeable quantile sketch: one pass, bounded "
        "memory, partial-agg - the 100 TB path where exact percentile's "
        "per-group sort/collect is infeasible. Emitted as an accuracy "
        "contract (exact quantiles + a sketch-within-5%% boolean the "
        "oracle expects constant-TRUE), so a broken sketch hash-fails "
        "the driver gate — same pattern as agg_approx_distinct."
    ),
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch p50/p95 of value per event_type, driver-checkable: exact
    quantiles plus a boolean asserting the sketch landed within 5% of the
    group's value range (the sketch returns a discrete element; near sparse
    tails at tiny SF the gap to the interpolated exact quantile can exceed
    2% of range — measured 2.25% worst-case at sf0.001)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("approx_percentile(value, 0.5, 10000)").alias("p50_a"),
            F.expr("approx_percentile(value, 0.95, 10000)").alias("p95_a"),
            F.expr("percentile(value, 0.5)").alias("p50_e"),
            F.expr("percentile(value, 0.95)").alias("p95_e"),
            (F.max("value") - F.min("value")).alias("vrange"),
        )
        .select(
            "event_type",
            rnd(F.col("p50_e"), 2).alias("p50_exact"),
            rnd(F.col("p95_e"), 2).alias("p95_exact"),
            (
                (F.abs(F.col("p50_a") - F.col("p50_e")) <= 0.05 * F.col("vrange"))
                & (F.abs(F.col("p95_a") - F.col("p95_e")) <= 0.05 * F.col("vrange"))
            ).alias("within_tol"),
        )
    )


@op(
    "fn_hash",
    oracle="""
        SELECT doc_id,
               md5(text) AS h_md5,
               sha256(text) AS h_sha256,
               md5(text || ':' || lang) AS h_salted
        FROM documents
    """,
    scale=(
        "Cryptographic hashes are per-row JVM intrinsics; 16/32-byte "
        "outputs replace arbitrary-size payloads as shuffle/dedup keys."
    ),
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash family: md5 / sha2-256 / salted md5 over document text."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha256"),
        F.md5(F.concat_ws(":", "text", "lang")).alias("h_salted"),
    )


@op(
    "agg_bool",
    oracle="""
        SELECT event_type,
               bool_and(value > 0.0) AS all_positive,
               bool_or(value > 400.0) AS any_large,
               count(*) FILTER (WHERE value > 100.0) AS n_over_100
        FROM events GROUP BY event_type
    """,
    scale="bool_and/bool_or partial-agg to single bits; FILTER folds into the agg.",
)
def agg_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates + filtered count per event type."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.bool_and(F.col("value") > 0.0).alias("all_positive"),
        F.bool_or(F.col("value") > 400.0).alias("any_large"),
        F.count_if(F.col("value") > 100.0).alias("n_over_100"),
    )


@op(
    "fn_try_safe",
    oracle="""
        SELECT event_id,
               TRY_CAST(event_type AS INTEGER)                   AS not_a_number,
               TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_ok,
               TRY_CAST('2024-13-45' AS TIMESTAMP)               AS bad_ts,
               CASE WHEN event_id % 10 = 0 THEN NULL
                    ELSE CAST(value / (event_id % 10) AS DOUBLE) END AS safe_div
        FROM events
    """,
    scale=(
        "Spark 4 runs ANSI mode by default: bad casts / div-by-zero THROW "
        "unless the try_* family is used. At 100 TB one malformed row must "
        "produce a NULL, not kill a 10-hour job - try_cast/try_divide are "
        "the ingest-hardening surface."
    ),
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe casts and division: malformed input → NULL, never an error."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_type").try_cast("int").alias("not_a_number"),
        F.get_json_object("props", "$.k").try_cast("int").alias("k_ok"),
        F.lit("2024-13-45").try_cast("timestamp").alias("bad_ts"),
        F.try_divide("value", F.col("event_id") % 10).alias("safe_div"),
    )


@op(
    "fn_regex",
    oracle=r"""
        SELECT c_custkey,
               regexp_replace(c_name, '\d', '#', 'g')              AS masked,
               CAST(len(regexp_extract_all(c_name, '\d+')) AS INTEGER) AS n_runs,
               array_to_string(regexp_extract_all(c_name, '\d+'), ',') AS runs,
               regexp_matches(c_name, '^Customer#\d+$')            AS well_formed
        FROM customer
    """,
    scale=(
        "Regex family (mask / count / extract-all / validate): all "
        "JVM-side codegen expressions over the scan — zero shuffles; the "
        "PII-masking + format-validation pass of an ingest pipeline. "
        "extract-all result stringified (array outputs crash the "
        "driver's canonicalizer)."
    ),
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digit masking, digit-run count/extraction, format validation over
    customer names."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_replace("c_name", r"\d", "#").alias("masked"),
        F.regexp_count("c_name", F.lit(r"\d+")).alias("n_runs"),
        F.concat_ws(",", F.regexp_extract_all("c_name", F.lit(r"\d+"), 0)).alias(
            "runs"
        ),
        F.rlike("c_name", F.lit(r"^Customer#\d+$")).alias("well_formed"),
    )


@op(
    "fn_encoding",
    oracle="""
        SELECT c_custkey,
               to_base64(encode(c_name))          AS b64,
               lower(hex(encode(c_name)))         AS hx,
               decode(from_base64(to_base64(encode(c_name)))) AS roundtrip,
               CAST(octet_length(encode(c_name)) AS INTEGER) AS n_bytes
        FROM customer
    """,
    scale=(
        "Binary encode/decode family (base64 / hex / roundtrip): pure "
        "codegen projections — the wire-format boundary ops for payload "
        "columns (Kinesis Data blobs arrive base64 in the AWS REST API)."
    ),
)
def fn_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """base64/hex encodings of utf-8 names and a lossless roundtrip."""
    cust = load_table(spark, sf_dir, "customer")
    raw = F.encode("c_name", "utf-8")
    return cust.select(
        "c_custkey",
        F.base64(raw).alias("b64"),
        F.lower(F.hex(raw)).alias("hx"),
        F.decode(F.unbase64(F.base64(raw)), "utf-8").alias("roundtrip"),
        F.octet_length(raw).alias("n_bytes"),
    )


@op(
    "fn_null_handling",
    oracle="""
        SELECT c_custkey, o_orderkey,
               coalesce(o_orderpriority, 'NO-ORDER')          AS prio,
               ifnull(o_totalprice, 0.0)                      AS price0,
               nullif(c_mktsegment, 'BUILDING')               AS seg_nb,
               CASE WHEN o_orderkey IS NULL THEN 'none'
                    ELSE 'some' END                            AS has_order,
               (o_orderkey IS NOT NULL)                        AS matched
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority = '1-URGENT'
    """,
    scale=(
        "NULL-handling family over an outer join's null-padded rows: "
        "coalesce/ifnull/nullif/IS NULL are all codegen projections — "
        "the null-discipline surface every outer-join consumer needs."
    ),
)
def fn_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """coalesce / ifnull / nullif / null predicates over null-padded
    outer-join output."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = customer.join(
        orders,
        (customer.c_custkey == orders.o_custkey)
        & (orders.o_orderpriority == "1-URGENT"),
        "left",
    )
    return j.select(
        "c_custkey",
        "o_orderkey",
        F.coalesce("o_orderpriority", F.lit("NO-ORDER")).alias("prio"),
        F.ifnull("o_totalprice", F.lit(0.0)).alias("price0"),
        F.nullif("c_mktsegment", F.lit("BUILDING")).alias("seg_nb"),
        F.when(F.col("o_orderkey").isNull(), "none").otherwise("some").alias(
            "has_order"
        ),
        F.col("o_orderkey").isNotNull().alias("matched"),
    )


@op(
    "fn_map_construct",
    oracle="""
        SELECT user_id,
               '{' || string_agg('"' || event_type || '":' || CAST(n AS VARCHAR),
                                 ',' ORDER BY event_type) || '}' AS type_counts
        FROM (
            SELECT user_id, event_type, count(*) AS n
            FROM events GROUP BY user_id, event_type
        ) GROUP BY user_id
    """,
    scale=(
        "Aggregate-to-map (per-user type→count dictionary): counts "
        "partial-agg first, map assembled from the tiny aggregated rows "
        "(map_from_entries over sorted collect_list). Emitted as "
        "canonical sorted JSON — top-level MapType results crash the "
        "driver's canonicalizer, and sorted-key JSON is the portable "
        "serialization of an unordered map."
    ),
)
def fn_map_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a per-user event_type→count map, serialized as sorted JSON."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    m = F.map_from_entries(
        F.array_sort(F.collect_list(F.struct("event_type", "n")))
    )
    return counts.groupBy("user_id").agg(
        F.to_json(m).alias("type_counts")
    )


@op(
    "agg_filter_clause",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               count(*) FILTER (WHERE value > 50) AS n_big,
               floor((sum(value) FILTER (WHERE value > 50)) * 10000.0 + 0.505)
                   / 10000.0 AS big_total,
               count(*) FILTER (WHERE user_id % 2 = 0) AS n_even_users
        FROM events GROUP BY event_type
    """,
    scale=(
        "ANSI FILTER clause (entry point E2): per-aggregate predicates in "
        "ONE pass — the declarative form of sum(CASE); Catalyst compiles "
        "both to the same conditional partial agg, so N filtered metrics "
        "still cost one scan + one shuffle."
    ),
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type conditional metrics via the SQL FILTER (WHERE ...) clause."""
    v = table_view(spark, sf_dir, "events")
    return spark.sql(f"""
        SELECT event_type,
               count(*) AS n,
               count(*) FILTER (WHERE value > 50) AS n_big,
               CAST(floor((sum(value) FILTER (WHERE value > 50)) * 10000.0
                          + 0.505) / 10000.0 AS DOUBLE) AS big_total,
               count(*) FILTER (WHERE user_id % 2 = 0) AS n_even_users
        FROM {v} GROUP BY event_type
    """)


@op(
    "win_named_window_sql",
    oracle="""
        SELECT event_id, user_id,
               row_number() OVER wo AS rn,
               floor((sum(value) OVER w) * 10000.0 + 0.505) / 10000.0
                   AS running_total,
               lag(event_type) OVER wo AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wo AS (PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id)
    """,
    scale=(
        "Named WINDOW clause (entry point E2): window functions share "
        "declared window definitions (a framed one for the running sum, a "
        "frameless one for rank/offset functions — Spark rejects explicit "
        "frames on lag) — the analyzer plans ONE sort+partition pass for "
        "both since they share partitioning and ordering."
    ),
)
def win_named_window_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared named windows: row_number + running sum + lag in one pass."""
    v = table_view(spark, sf_dir, "events")
    return spark.sql(f"""
        SELECT event_id, user_id,
               row_number() OVER wo AS rn,
               CAST(floor((sum(value) OVER w) * 10000.0 + 0.505) / 10000.0
                    AS DOUBLE) AS running_total,
               lag(event_type) OVER wo AS prev_type
        FROM {v}
        WINDOW w AS (PARTITION BY user_id
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wo AS (PARTITION BY user_id
                      ORDER BY ts, event_id)
    """)


@op(
    "fn_hof_lambda",
    oracle="""
        WITH t AS (
            SELECT l_orderkey,
                   list_sort(list(CAST(l_quantity AS BIGINT))) AS qts
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT l_orderkey,
               len(qts) AS n_items,
               CAST(list_aggregate(list_transform(qts, x -> x * x), 'sum') AS BIGINT) AS sum_sq,
               len(list_filter(qts, x -> x >= 25)) AS n_large,
               CASE WHEN len(list_filter(qts, x -> x % 2 = 0)) = len(qts)
                    THEN true ELSE false END AS all_even
        FROM t
    """,
    scale=(
        "SQL lambda higher-order functions (transform/filter/aggregate over "
        "a collected array): the per-group array stays INSIDE the JVM "
        "expression tree (codegen), emitted columns are scalars only — the "
        "way to run per-group elementwise logic without a Python UDF. The "
        "collect is per-orderkey (bounded basket), never corpus-wide."
    ),
)
def fn_hof_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order quantity arrays reduced via lambda HOFs to scalar stats."""
    li = load_table(spark, sf_dir, "lineitem")
    qts = F.array_sort(F.collect_list(F.col("l_quantity").cast("long")))
    base = li.groupBy("l_orderkey").agg(qts.alias("qts"))
    return base.select(
        "l_orderkey",
        F.size("qts").alias("n_items"),
        F.aggregate(
            F.transform("qts", lambda x: x * x), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("sum_sq"),
        F.size(F.filter("qts", lambda x: x >= 25)).alias("n_large"),
        (F.size(F.filter("qts", lambda x: x % 2 == 0)) == F.size("qts")).alias(
            "all_even"
        ),
    )


@op(
    "fn_url",
    oracle="""
        SELECT doc_id,
               source || '.example.com' AS host,
               '/docs/' || CAST(doc_id AS VARCHAR) AS path,
               lang AS lang_param,
               count(*) OVER (PARTITION BY source || '.example.com')
                   AS host_docs
        FROM documents
    """,
    scale=(
        "URL decomposition with the parse_url builtin (codegen, no regex "
        "UDF): the log-analytics normalizer. The oracle reconstructs the "
        "same fields from the generator columns — deliberately a different "
        "derivation, so parity proves parse_url's HOST/PATH/QUERY "
        "semantics rather than mirroring string concat on both sides. "
        "Map-only except the per-host window count (one exchange)."
    ),
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a synthetic URL per document, then take it apart again with
    parse_url (host, path, query param) + per-host doc counts."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?lang="),
        F.col("lang"),
    )
    with_url = docs.select("doc_id", url.alias("u"))
    parsed = with_url.select(
        "doc_id",
        F.parse_url("u", F.lit("HOST")).alias("host"),
        F.parse_url("u", F.lit("PATH")).alias("path"),
        F.parse_url("u", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )
    w = Window.partitionBy("host")
    return parsed.withColumn("host_docs", F.count(F.lit(1)).over(w))


@op(
    "fn_collation",
    oracle="""
        WITH mangled AS (
            SELECT CASE WHEN c_custkey % 2 = 0 THEN lower(c_mktsegment)
                        ELSE c_mktsegment END AS seg
            FROM customer
        )
        SELECT upper(seg) AS segment,
               count(*) AS n,
               count(DISTINCT seg) AS n_spellings
        FROM mangled GROUP BY upper(seg)
    """,
    scale=(
        "Spark 4 collations: grouping on collate(x, 'UTF8_LCASE') makes "
        "case-insensitive semantics a TYPE property the optimizer "
        "understands (joins/aggs stay hash-based, no normalize-projection "
        "to maintain) instead of an upper() call sites must remember. The "
        "oracle pins equivalence to the classic upper()-normalization: "
        "same groups, same counts, with the spelling cardinality proving "
        "the raw values really differed."
    ),
)
def fn_collation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via the UTF8_LCASE collation over a
    deliberately case-mangled segment column."""
    cust = load_table(spark, sf_dir, "customer")
    mangled = cust.select(
        F.when(F.col("c_custkey") % 2 == 0, F.lower("c_mktsegment"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg")
    )
    return (
        mangled.groupBy(F.collate("seg", "UTF8_LCASE").alias("seg_ci"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.collate("seg", "UTF8_BINARY")).alias("n_spellings"),
        )
        .select(
            F.upper(F.col("seg_ci").cast("string")).alias("segment"),
            "n",
            "n_spellings",
        )
    )


@op(
    "fn_variant_json",
    oracle="""
        SELECT event_type,
               count(*) AS n,
               CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                    AS BIGINT) AS k_sum,
               CAST(max(CAST(json_extract_string(props, '$.k') AS INTEGER))
                    AS INTEGER) AS k_max,
               CAST(count_if(json_extract_string(props, '$.k') IS NULL)
                    AS BIGINT) AS n_missing
        FROM events GROUP BY event_type
    """,
    scale=(
        "Spark 4 VARIANT: parse_json ingests semi-structured payloads ONCE "
        "into a binary-encoded open type; variant_get path extraction is "
        "codegen (no per-access re-parse, unlike repeated "
        "get_json_object calls) and shredding pushes typed subfields into "
        "columnar storage. The schema-on-read path for a 100 TB event "
        "lake whose payload schema drifts weekly."
    ),
)
def fn_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse props into a VARIANT, extract k via variant_get, aggregate
    per event type (sum/max/missing-count)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("k_sum"),
            F.max("k").alias("k_max"),
            F.count_if(F.col("k").isNull()).alias("n_missing"),
        )
    )


@op(
    "fn_group_by_all",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               {sql_rnd("sum(l_quantity)")} AS sum_qty,
               {sql_rnd("avg(l_discount)", 4)} AS avg_disc
        FROM lineitem
        GROUP BY ALL
    """,
    scale=(
        "GROUP BY ALL (Spark 3.4+/ANSI shorthand): every non-aggregate "
        "select item becomes a grouping key, eliminating the classic "
        "drift bug where a new projection column silently changes grain. "
        "Compiles to the identical HashAggregate as the explicit form — "
        "partial agg map-side, 6-row result — purely parser surface."
    ),
)
def fn_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL shorthand over the Q1 grouping."""
    v = table_view(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS n,
               CAST({sql_rnd("sum(l_quantity)")} AS DOUBLE) AS sum_qty,
               CAST({sql_rnd("avg(l_discount)", 4)} AS DOUBLE) AS avg_disc
        FROM {v}
        GROUP BY ALL
        """
    )


@op(
    "fn_interval_arith",
    oracle="""
        SELECT o_orderkey,
               CAST(CAST(CAST(o_orderdate AS TIMESTAMP) + INTERVAL 3 MONTH
                    AS DATE) AS TIMESTAMP) AS due_date,
               date_trunc('quarter', CAST(o_orderdate AS TIMESTAMP))
                   AS quarter_start,
               CAST(last_day(CAST(CAST(o_orderdate AS TIMESTAMP) AS DATE))
                    AS TIMESTAMP) AS month_end,
               CAST(date_diff('day', CAST(CAST(o_orderdate AS TIMESTAMP)
                    AS DATE), DATE '2001-12-31') AS BIGINT) AS days_to_cutoff
        FROM orders
    """,
    scale=(
        "Calendar/interval arithmetic family — add_months (end-of-month "
        "clamped identically in both engines), quarter truncation, "
        "last_day, and day differences: all codegen projections on the "
        "scan, no shuffle. These are the expressions every date-derived "
        "feature column and every retention cutoff is built from; "
        "end-of-month clamping (Jan 31 + 1 month = Feb 28) is the "
        "classic cross-engine divergence and is pinned here."
    ),
)
def fn_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/date arithmetic over order dates: +3 months (clamped),
    quarter start, month end, and days to a fixed cutoff."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.add_months("o_orderdate", 3).cast("timestamp").alias("due_date"),
        F.date_trunc("quarter", "o_orderdate").alias("quarter_start"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.datediff(
            F.lit("2001-12-31").cast("date"), F.col("o_orderdate")
        ).cast("long").alias("days_to_cutoff"),
    )


@op(
    "fn_sql_pipe",
    oracle="""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM lineitem
        WHERE l_quantity < 10
        GROUP BY l_returnflag
    """,
    scale=(
        "Spark 4 SQL pipe syntax (FROM ... |> WHERE ... |> AGGREGATE): "
        "purely a parser surface — the pipeline compiles to the exact "
        "same logical plan as the SELECT form (filter pushdown, partial "
        "agg, everything), which this op's oracle equality proves. "
        "Matters for the migration story: ELT tools emitting pipe-form "
        "SQL run unchanged."
    ),
)
def fn_sql_pipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q1-ish filter+aggregate expressed in Spark 4 pipe syntax."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("pkss_pipe_lineitem")
    return spark.sql(
        """
        FROM pkss_pipe_lineitem
        |> WHERE l_quantity < 10
        |> AGGREGATE count(*) AS n,
                     sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                         AS revenue_cents
           GROUP BY l_returnflag
        """
    ).select("l_returnflag", "n", "revenue_cents")


@op(
    "fn_hof_map_family",
    oracle="""
        WITH k AS (
            SELECT event_id,
                   CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS kv
            FROM events
        )
        SELECT event_id,
               'k=' || CAST(kv * 10 AS VARCHAR) || ',kk='
                    || CAST(kv * 20 AS VARCHAR) AS scaled_entries,
               CASE WHEN kv % 2 = 0 AND (kv * 2) % 2 = 0 THEN 'k,kk'
                    WHEN kv % 2 = 0 THEN 'k'
                    WHEN (kv * 2) % 2 = 0 THEN 'kk'
                    ELSE '' END AS even_keys,
               CAST(3 * kv + 12 AS BIGINT) AS zipped_total
        FROM k
    """,
    scale=(
        "Map higher-order functions (transform_values, map_filter, "
        "map_zip_with) — per-row codegen expressions, no shuffle, no "
        "Python; results canonicalized to sorted entry STRINGS because "
        "top-level map columns crash the driver hasher (round-1 "
        "agg_collect lesson). The oracle derives the same values "
        "arithmetically — value equivalence, not phrasing equivalence, "
        "is the contract."
    ),
)
def fn_hof_map_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transform_values / map_filter / map_zip_with over a per-row map
    built from the JSON prop, emitted as canonical strings."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("kv"),
    )
    return k.select(
        "event_id",
        F.expr(
            "array_join(transform(array_sort(map_entries("
            "  transform_values(map('k', kv, 'kk', kv * 2), (mk, v) -> v * 10)"
            ")), e -> concat(e.key, '=', CAST(e.value AS STRING))), ',')"
        ).alias("scaled_entries"),
        F.expr(
            "array_join(array_sort(map_keys("
            "  map_filter(map('k', kv, 'kk', kv * 2), (mk, v) -> v % 2 = 0)"
            ")), ',')"
        ).alias("even_keys"),
        F.expr(
            "aggregate(map_values(map_zip_with("
            "  map('k', kv, 'kk', kv * 2), map('k', 5L, 'kk', 7L), "
            "  (mk, v1, v2) -> v1 + v2)), 0L, (acc, x) -> acc + x)"
        ).alias("zipped_total"),
    )


@op(
    "fn_lateral_view_sql",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ),
        pos AS (
            SELECT doc_id, i.i - 1 AS pos, ws[i.i] AS tok
            FROM toks, unnest(range(1, len(ws) + 1)) AS i(i)
            WHERE len(ws[i.i]) > 0
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(*) FILTER (WHERE pos % 2 = 0) AS BIGINT)
                   AS n_even_positions,
               CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
        FROM pos GROUP BY doc_id
    """,
    scale=(
        "Hive-legacy LATERAL VIEW posexplode through the SQL parser — the "
        "migration surface for warehouse SQL that predates modern "
        "LATERAL/TVF syntax. Compiles to the identical Generate + partial "
        "agg plan as the DataFrame explode (one doc_id shuffle after the "
        "map-side expansion); the positional column comes free from "
        "posexplode, no window needed."
    ),
)
def fn_lateral_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token position stats via legacy `LATERAL VIEW posexplode` SQL."""
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("pkss_lv_documents")
    return spark.sql(
        """
        SELECT doc_id,
               count(*) AS n_tokens,
               count(IF(pos % 2 = 0, 1, NULL)) AS n_even_positions,
               count(DISTINCT tok) AS n_distinct
        FROM pkss_lv_documents
        LATERAL VIEW posexplode(split(text, ' ')) t AS pos, tok
        WHERE length(tok) > 0
        GROUP BY doc_id
        """
    )


@op(
    "fn_sql_udf",
    oracle="""
        WITH t AS (
            SELECT o_orderpriority,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
            FROM orders
        ),
        g AS (
            SELECT o_orderpriority, CAST(sum(cents) AS BIGINT) AS total_cents,
                   CAST(count(*) AS BIGINT) AS n
            FROM t GROUP BY o_orderpriority
        )
        SELECT g.o_orderpriority, g.total_cents, g.n,
               CAST(b.i AS BIGINT) AS tier
        FROM g, unnest(range(1, 4)) AS b(i)
        WHERE CAST(ceil(g.n / 1000.0) AS BIGINT) >= b.i
    """,
    scale=(
        "Spark 4 SQL-defined functions: a scalar UDF (CREATE TEMPORARY "
        "FUNCTION ... RETURN <expr>) and a table UDF (RETURNS TABLE) "
        "invoked from a query. Unlike Python UDFs these INLINE into the "
        "plan at analysis time — the scalar body becomes a codegen "
        "expression (no serialization boundary, full pushdown through "
        "it), the table function becomes a correlated Generate. The "
        "business-logic-reuse surface with zero runtime cost; the "
        "oracle reproduces both bodies literally, proving the inlining "
        "changed nothing semantically."
    ),
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDF (money→cents) + SQL table UDF (tier expansion)
    composed in one query."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pkss_udf_orders")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pkss_cents(x DOUBLE) "
        "RETURNS BIGINT RETURN CAST(floor(x * 100 + 0.5) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pkss_tiers(n BIGINT) "
        "RETURNS TABLE(tier BIGINT) "
        "RETURN SELECT explode(sequence(1L, CAST(ceil(n / 1000.0) AS BIGINT)))"
    )
    return spark.sql(
        """
        WITH g AS (
            SELECT o_orderpriority,
                   sum(pkss_cents(o_totalprice)) AS total_cents,
                   count(*) AS n
            FROM pkss_udf_orders GROUP BY o_orderpriority
        )
        SELECT g.o_orderpriority, g.total_cents, g.n, t.tier
        FROM g, LATERAL pkss_tiers(g.n) t
        WHERE t.tier <= 3
        """
    )


@op(
    "fn_try_arith",
    oracle="""
        WITH k AS (
            SELECT event_id, value,
                   CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS kv
            FROM events
        )
        SELECT event_id,
               CASE WHEN kv = 50 THEN NULL
                    ELSE floor(value / (kv - 50) * 10000.0 + 0.505) / 10000.0
               END AS safe_ratio,
               CASE WHEN kv = 0 THEN NULL
                    ELSE CAST(9223372036854775807 // kv AS BIGINT) END
                   AS near_max_div,
               CAST(NULL AS TIMESTAMP) AS bad_ts
        FROM k
    """,
    scale=(
        "Error-safe arithmetic (try_divide, try_to_timestamp) — ANSI "
        "mode without the job-killing exceptions: a single bad row "
        "yields NULL instead of failing a 100 TB job at 99%. All "
        "map-only codegen; the oracle models each try_* as its CASE "
        "equivalent, pinning exactly WHICH inputs null out (divide by "
        "zero, unparseable timestamp) so semantics can't drift."
    ),
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_divide / try_to_timestamp over event props: bad inputs -> NULL,
    never an exception."""
    ev = load_table(spark, sf_dir, "events")
    k = ev.select(
        "event_id",
        "value",
        F.regexp_extract("props", "[0-9]+", 0).cast("long").alias("kv"),
    )
    return k.select(
        "event_id",
        rnd(F.try_divide(F.col("value"), F.col("kv") - 50), 4).alias(
            "safe_ratio"
        ),
        F.when(
            F.col("kv") == 0, F.lit(None).cast("long")
        ).otherwise(F.expr("9223372036854775807L div kv")).alias("near_max_div"),
        F.try_to_timestamp(F.lit("not-a-date")).alias("bad_ts"),
    )


@op(
    "fn_sql_params",
    oracle="""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n,
               floor(avg(c_acctbal) * 100.0 + 0.505) / 100.0 AS avg_bal
        FROM customer
        WHERE c_acctbal BETWEEN 1000 AND 8000
          AND c_mktsegment != 'MACHINERY'
        GROUP BY c_mktsegment
    """,
    scale=(
        "Parameterized SQL (spark.sql(..., args={...})): values bind as "
        "literal PARAMETERS, not string splices — no injection surface, "
        "and repeated calls with different bindings share one parsed "
        "template. The bound literals still constant-fold and push down "
        "to the scan exactly like inline literals (same PushedFilters), "
        "so safety costs zero plan quality."
    ),
)
def fn_sql_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL over customer balances."""
    cust = load_table(spark, sf_dir, "customer")
    cust.createOrReplaceTempView("pkss_param_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n,
               floor(avg(c_acctbal) * 100.0D + 0.505D) / 100.0D AS avg_bal
        FROM pkss_param_customer
        WHERE c_acctbal BETWEEN :lo AND :hi
          AND c_mktsegment != :excluded
        GROUP BY c_mktsegment
        """,
        args={"lo": 1000, "hi": 8000, "excluded": "MACHINERY"},
    )


@op(
    "fn_xpath",
    oracle="""
        SELECT event_id,
               CAST(regexp_extract(props, '[0-9]+') AS BIGINT) AS k_int,
               event_type AS tag_text,
               CAST(2 AS INTEGER) AS n_nodes
        FROM events
    """,
    scale=(
        "XPath extraction (xpath_long / xpath_string / xpath over a "
        "generated XML payload) — the legacy-feed ingestion surface: "
        "all JVM codegen expressions on the scan, no Python. The oracle "
        "derives the same values from the source fields directly "
        "(value equivalence), since the XML is a deterministic "
        "projection of them — which is exactly the invariant a feed "
        "migration asserts when replacing XML hops with columnar reads."
    ),
)
def fn_xpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xpath_* extraction over a synthesized XML rendering of each event."""
    ev = load_table(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<ev><k>"),
        F.regexp_extract("props", "[0-9]+", 0),
        F.lit("</k><t>"),
        F.col("event_type"),
        F.lit("</t></ev>"),
    )
    return ev.select("event_id", xml.alias("x")).select(
        "event_id",
        F.expr("xpath_long(x, '/ev/k/text()')").alias("k_int"),
        F.expr("xpath_string(x, '/ev/t/text()')").alias("tag_text"),
        F.expr("size(xpath(x, '/ev/*'))").cast("int").alias("n_nodes"),
    )


@op(
    "fn_aes_roundtrip",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_roundtrip_ok,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT)
                   AS n_distinct_cipher
        FROM customer
    """,
    scale=(
        "Column-level encryption (aes_encrypt/aes_decrypt, ECB for "
        "deterministic ciphertext) — the PII-at-rest surface: encrypt "
        "on write, decrypt on authorized read, with DETERMINISTIC mode "
        "chosen deliberately so equality predicates and group-bys still "
        "work on ciphertext (the classic determinism-vs-leakage "
        "trade-off, pinned by n_distinct_cipher == n_distinct_plain). "
        "Map-only codegen; the oracle checks the roundtrip invariants "
        "rather than ciphertext bytes (DuckDB has no AES)."
    ),
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aes_encrypt/decrypt roundtrip over customer segments: all rows must
    decrypt to the original; deterministic ECB preserves groupability."""
    cust = load_table(spark, sf_dir, "customer")
    key = "0123456789abcdef"
    enc = F.expr(
        f"aes_encrypt(c_mktsegment, '{key}', 'ECB')"
    )
    crypted = cust.select(
        "c_mktsegment",
        enc.alias("cipher"),
        F.expr(
            f"CAST(aes_decrypt(aes_encrypt(c_mktsegment, '{key}', 'ECB'),"
            f" '{key}', 'ECB') AS STRING)"
        ).alias("plain_again"),
    )
    return crypted.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(
            F.when(F.col("plain_again") == F.col("c_mktsegment"), 1)
        ).alias("n_roundtrip_ok"),
        F.countDistinct("cipher").alias("n_distinct_cipher"),
    )


@op(
    "fn_inline_structs",
    oracle="""
        SELECT o_orderkey, 'base' AS component,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'fee',
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // 50
        FROM orders
    """,
    scale=(
        "The inline() generator: an array<struct> column explodes to "
        "rows AND columns in one Generate node — the idiomatic way to "
        "normalize a nested line-items array without explode + "
        "getField chains. Map-side fan-out (x2 here), partial-agg "
        "friendly downstream; the denormalized charge-component rows "
        "are what a billing pipeline feeds to per-component rollups."
    ),
)
def fn_inline_structs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode an array-of-structs charge breakdown via inline()."""
    o = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    charges = F.array(
        F.struct(F.lit("base").alias("component"), cents.alias("cents")),
        F.struct(
            F.lit("fee").alias("component"),
            F.floor(cents / 50).cast("long").alias("cents"),
        ),
    )
    return o.select("o_orderkey", F.inline(charges))


@op(
    "fn_sql_identifier",
    oracle="""
        SELECT o_orderpriority AS dim_value,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders GROUP BY o_orderpriority
    """,
    scale=(
        "The IDENTIFIER(:param) clause: table and column NAMES bound as "
        "parameters — the safe form of templated SQL (metric-store "
        "queries that pivot over config-chosen dimensions) that "
        "string-concatenation SQL generation gets wrong. The identifier "
        "resolves at analysis time, so the plan is identical to the "
        "hard-coded query: full pushdown, no late binding cost."
    ),
)
def fn_sql_identifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic dimension rollup via IDENTIFIER-bound table and column names."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("pkss_ident_orders")
    return spark.sql(
        """
        SELECT IDENTIFIER(:dim) AS dim_value, count(*) AS n,
               sum(CAST(floor(o_totalprice * 100.0D + 0.5D) AS BIGINT))
                   AS cents
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:dim)
        """,
        args={"tbl": "pkss_ident_orders", "dim": "o_orderpriority"},
    )


@op(
    "fn_sql_recursive_cte",
    oracle="""
        WITH RECURSIVE walk AS (
            SELECT n_nationkey, n_nationkey AS cur,
                   CAST(0 AS INTEGER) AS depth,
                   CAST(n_nationkey AS VARCHAR) AS path
            FROM nation
            UNION ALL
            SELECT n_nationkey, (cur - 1) // 2 AS cur, depth + 1,
                   path || '>' || CAST((cur - 1) // 2 AS VARCHAR)
            FROM walk WHERE cur > 0
        )
        SELECT w.n_nationkey,
               n.n_name,
               CAST(max(w.depth) AS INTEGER) AS depth,
               max(CASE WHEN w.cur = 0 THEN w.path END) AS root_path
        FROM walk w JOIN nation n ON n.n_nationkey = w.n_nationkey
        GROUP BY w.n_nationkey, n.n_name
    """,
    scale=(
        "Spark 4 recursive CTE (SPARK-24497): the ancestor walk over a "
        "synthetic binary hierarchy (parent = (k-1)/2) runs as iterative "
        "union-all steps inside the engine — each iteration is a "
        "distributed join/filter, state never lands on the driver, and "
        "the recursion depth is O(log n) for balanced hierarchies. The "
        "same shape covers org charts, BOM explosion, and thread-reply "
        "chains; for deep/cyclic graphs the dedup_clusters-style "
        "convergence loop with persist-per-round replaces it."
    ),
)
def fn_sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE ancestor walk (depth + path to root) over nations."""
    nation = load_table(spark, sf_dir, "nation")
    nation.createOrReplaceTempView("pkss_rec_nation")
    return spark.sql(
        """
        WITH RECURSIVE walk AS (
            SELECT n_nationkey, n_nationkey AS cur,
                   CAST(0 AS INT) AS depth,
                   CAST(n_nationkey AS STRING) AS path
            FROM pkss_rec_nation
            UNION ALL
            SELECT n_nationkey,
                   CAST(floor((cur - 1) / 2) AS INT) AS cur,
                   depth + 1,
                   concat(path, '>',
                          CAST(CAST(floor((cur - 1) / 2) AS INT) AS STRING))
            FROM walk WHERE cur > 0
        )
        SELECT w.n_nationkey,
               n.n_name,
               CAST(max(w.depth) AS INT) AS depth,
               max(CASE WHEN w.cur = 0 THEN w.path END) AS root_path
        FROM walk w JOIN pkss_rec_nation n
          ON n.n_nationkey = w.n_nationkey
        GROUP BY w.n_nationkey, n.n_name
        """
    )


@op(
    "fn_mask_family",
    oracle="""
        SELECT c_custkey,
               regexp_replace(regexp_replace(regexp_replace(
                   c_name, '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'),
                   '[0-9]', 'n', 'g') AS masked_default,
               regexp_replace(c_name, '[0-9]', '9', 'g')
                   AS masked_digits_only,
               substring(c_name, 1, 3)
                   || repeat('*', greatest(len(c_name) - 3, 0))
                   AS masked_keep_prefix
        FROM customer
    """,
    scale=(
        "Data-masking function family for PII-safe exports: Spark's "
        "built-in mask() (upper->X, lower->x, digit->n, per-class "
        "override args) plus the keep-prefix redaction pattern — all "
        "per-row codegen expressions, zero shuffle, streaming-safe. "
        "The oracle derives identical strings from regexp passes, "
        "proving mask()'s class semantics rather than trusting them. "
        "Composes with events_pii_scrub (structural scrubbing) — this "
        "is the column-level leg; at 100 TB masking rides the export "
        "projection for free."
    ),
)
def fn_mask_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mask() variants over customer names: default, digits-only, prefix."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.mask("c_name").alias("masked_default"),
        F.mask(
            "c_name",
            F.lit(None).cast("string"),
            F.lit(None).cast("string"),
            F.lit("9"),
            F.lit(None).cast("string"),
        ).alias("masked_digits_only"),
        F.concat(
            F.substring("c_name", 1, 3),
            F.repeat(
                F.lit("*"),
                F.greatest(F.length("c_name") - 3, F.lit(0)),
            ),
        ).alias("masked_keep_prefix"),
    )


@op(
    "fn_sql_cluster_by",
    oracle="""
        SELECT user_id, event_id, event_type, value
        FROM events WHERE event_type IN ('click', 'view')
    """,
    scale=(
        "DISTRIBUTE BY / CLUSTER BY surface: CLUSTER BY user_id compiles "
        "to a hash repartition on the key plus a partition-LOCAL sort — "
        "no global ordering, no single-reducer range exchange — which is "
        "precisely the write-side layout step before a bucketed/sorted "
        "table dump (sink-side twin of join_bucketed's read side). The "
        "result MULTISET equals the plain filter (the oracle), because "
        "clustering only moves rows; the plan shape (Exchange "
        "hashpartitioning + local Sort) is the actual artifact and is "
        "pinned in tests/test_plans.py."
    ),
)
def fn_sql_cluster_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER BY query: co-locate + locally sort rows by user_id."""
    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("pkss_cluster_events")
    return spark.sql(
        """
        SELECT user_id, event_id, event_type, value
        FROM pkss_cluster_events
        WHERE event_type IN ('click', 'view')
        CLUSTER BY user_id
        """
    )

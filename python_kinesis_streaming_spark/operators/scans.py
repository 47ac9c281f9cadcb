"""§2.1 Scans / sources / sinks (SURVEY.md).

Scale notes (100 TB):
- All scans are `spark.read.parquet` → DataSource V1/V2 vectorized Parquet
  reader. Filters/projections composed downstream reach the scan
  (PushedFilters / ReadSchema in `.explain("formatted")`) — nothing here
  materializes or widens the scan.
- The partitioned sink writes one directory per partition value; at cluster
  scale the same code with `maxRecordsPerFile` + AQE coalescing controls
  file sizes; `partitionBy` on a low-cardinality column is the correct
  layout for partition-pruned downstream reads.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from python_kinesis_streaming_spark.functions.rounding import cents
from python_kinesis_streaming_spark.registry import op
from python_kinesis_streaming_spark.sources.tables import load_table
from python_kinesis_streaming_spark.sources.tables import sf_tag as fixture_tag

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


@op(
    "scan_parquet",
    oracle="SELECT * FROM orders",
    scale="Plain columnar scan; partition-pruned + pushdown-ready at any SF.",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-fidelity table scan: every column, every row, every type
    (int64, string, double, timestamp[ms]) round-trips the reader."""
    return load_table(spark, sf_dir, "orders")


@op(
    "scan_events_ns_ts",
    oracle="SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events",
    scale="timestamp normalization is a codegen'd projection; no shuffle.",
)
def scan_events_ns_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the events timestamp column correctly whatever the fixture's
    physical type (SURVEY §7.4 h1): round-1..3 shipped TIMESTAMP(NANOS)
    (legacy nanosAsLong read + integer µs truncation), round 4+ ships µs
    isAdjustedToUTC=false which Spark reads as TIMESTAMP_NTZ (identity
    cast to TIMESTAMP under the UTC session tz). Both normalizations live
    in load_table and match DuckDB's naive TIMESTAMP read bit-for-bit."""
    return load_table(spark, sf_dir, "events").select("event_id", "ts")


@op(
    "source_json_decode",
    oracle=(
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k"
        " FROM events"
    ),
    scale="from_json is codegen'd JVM-side; schema declared, no sampling pass.",
)
def source_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kinesis Data-blob decode analogue: JSON payload string → typed column
    via `from_json` with an explicit schema (schema-on-read, §1.1)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )


@op(
    "sink_parquet",
    oracle=(
        "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,"
        " value, props FROM events"
    ),
    scale=(
        "partitionBy(event_type) → one dir per value, enables partition "
        "pruning downstream; at 100 TB add maxRecordsPerFile to bound file "
        "sizes and sortWithinPartitions for row-group locality."
    ),
)
def sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events partitioned by event_type, read back, prove lossless
    round-trip (timestamps at µs, doubles bit-exact, partition column
    restored)."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(SCRATCH, f"sink_parquet_{fixture_tag(sf_dir)}")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


@op(
    "sink_json_roundtrip",
    oracle=(
        "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,"
        " value, props FROM events"
    ),
    scale=(
        "JSON-lines is the interchange sink (schemaless consumers, Kinesis "
        "Firehose-style delivery): ~5-10x parquet's bytes and no pushdown, "
        "so at 100 TB it is an EDGE format only - land as JSON, compact to "
        "parquet. Explicit schema on read-back: no inference pass."
    ),
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as JSON lines, read back with explicit schema, prove the
    round-trip lossless (timestamps ISO-8601 w/ micros, doubles exact via
    Spark's shortest-repr JSON encoding)."""
    ev = load_table(spark, sf_dir, "events")
    out = os.path.join(SCRATCH, f"sink_json_{fixture_tag(sf_dir)}")
    # default JSON timestampFormat truncates to milliseconds — force µs
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ev.write.mode("overwrite").option("timestampFormat", fmt).json(out)
    back = spark.read.schema(ev.schema).option("timestampFormat", fmt).json(out)
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


@op(
    "sink_csv_roundtrip",
    oracle="SELECT event_id, user_id, event_type, props FROM events",
    scale=(
        "CSV: header-on, explicit schema + timestampFormat on read. Text "
        "floats are NOT bit-safe (shortest-repr vs locale pitfalls), so the "
        "contract covers the int/string columns - the honest statement of "
        "what CSV can carry losslessly."
    ),
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the int/string columns of events to CSV, read back with an
    explicit schema, prove losslessness for CSV-safe types."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "props"
    )
    out = os.path.join(SCRATCH, f"sink_csv_{fixture_tag(sf_dir)}")
    ev.write.mode("overwrite").option("header", "true").csv(out)
    back = (
        spark.read.schema("event_id long, user_id long, event_type string, props string")
        .option("header", "true")
        .csv(out)
    )
    return back


@op(
    "scan_partition_pruned",
    oracle="""
        SELECT event_id, user_id, value, event_type
        FROM events WHERE event_type IN ('click', 'purchase')
    """,
    scale=(
        "Partition pruning: the IN-filter on the partition column resolves "
        "at PLAN time to 2 of 5 directories - 60% of the data is never "
        "listed, opened, or read (PartitionFilters in the scan node, "
        "asserted in tests/test_plans.py). THE layout lever for 100 TB "
        "time-series: partition by (date, ...), prune by predicate."
    ),
)
def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a hive-partitioned copy of events with a partition-column filter
    that prunes directories at plan time."""
    tag = fixture_tag(sf_dir)
    out = os.path.join(SCRATCH, "part_events", tag)
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    return back.where(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "user_id", "value", "event_type")


@op(
    "scan_schema_evolution",
    oracle="""
        SELECT event_id, user_id, NULL AS value FROM events
        WHERE event_type = 'click'
        UNION ALL
        SELECT event_id, NULL AS user_id, value FROM events
        WHERE event_type = 'purchase'
    """,
    scale=(
        "mergeSchema unions the footers of heterogenous parquet files into "
        "one wide schema (absent columns read as NULL) - how a long-lived "
        "100 TB table absorbs column additions without rewrites. Cost: "
        "footer-merge at planning; keep it off (default) for fixed-schema "
        "tables."
    ),
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read two parquet generations with different schemas via mergeSchema:
    generation 1 has (event_id, user_id), generation 2 adds value."""
    tag = fixture_tag(sf_dir)
    out = os.path.join(SCRATCH, "evolution", tag)
    if not os.path.exists(os.path.join(out, "_GENS_DONE")):
        ev = load_table(spark, sf_dir, "events")
        ev.where(F.col("event_type") == "click").select(
            "event_id", "user_id"
        ).coalesce(1).write.mode("overwrite").parquet(out)
        ev.where(F.col("event_type") == "purchase").select(
            "event_id", "value"
        ).coalesce(1).write.mode("append").parquet(out)
        with open(os.path.join(out, "_GENS_DONE"), "w") as fh:
            fh.write("ok")
    back = spark.read.option("mergeSchema", "true").parquet(out)
    return back.select("event_id", "user_id", "value")


@op(
    "source_json_corrupt",
    oracle="""
        WITH raw AS (
            SELECT event_type,
                   CASE WHEN event_id % 7 = 0
                        THEN replace(props, '{', '{,')
                        ELSE props END AS p
            FROM events
        )
        SELECT event_type,
               count(*) FILTER (json_valid(p)) AS n_valid,
               count(*) FILTER (NOT json_valid(p)) AS n_corrupt,
               CAST(sum(CASE WHEN json_valid(p)
                        THEN CAST(json_extract(p, '$.k') AS BIGINT) END) AS BIGINT) AS k_sum
        FROM raw GROUP BY event_type
    """,
    scale=(
        "Malformed-payload ingest: every 7th payload is deterministically "
        "mangled, then parsed with null-on-error semantics (from_json) — "
        "corrupt rows are COUNTED and quarantined, never fail the job. "
        "The at-scale property: one bad producer can't poison a 100 TB "
        "backfill; the valid/corrupt split is a partial-agg rollup."
    ),
)
def source_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse a stream with injected malformed JSON; per-type valid/corrupt
    counts and the recovered payload sum."""
    ev = load_table(spark, sf_dir, "events")
    p = F.when(
        F.col("event_id") % 7 == 0, F.regexp_replace("props", r"\{", "{,")
    ).otherwise(F.col("props"))
    k = F.from_json(p, "k INT").getField("k")
    return ev.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count_if(F.col("k").isNotNull()).alias("n_valid"),
        F.count_if(F.col("k").isNull()).alias("n_corrupt"),
        F.sum("k").cast("long").alias("k_sum"),
    )


@op(
    "source_python_datasource",
    oracle="""
        SELECT CAST(i % 7 AS INTEGER) AS bucket,
               count(*) AS n,
               CAST(sum((i * i) % 97) AS BIGINT) AS total_val
        FROM range(0, 10000) r(i)
        GROUP BY CAST(i % 7 AS INTEGER)
    """,
    scale=(
        "Spark 4 Python DataSource API: a custom connector implemented in "
        "pure Python (DataSource + DataSourceReader with explicit input "
        "partitions) — the extension seam for sources with no JVM "
        "connector (internal services, bespoke formats). Each partition "
        "reads independently executor-side (4 here; thousands at scale); "
        "rows stream through Arrow. For hot paths prefer a JVM DSv2 "
        "connector — this is the Python escape hatch, same planner surface "
        "(pushdown capabilities opt-in via the reader API)."
    ),
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Register and read a pure-Python custom data source (deterministic
    synthetic rows, 4 input partitions), then aggregate per bucket."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    # Nested classes: cloudpickled by value (bare-session rule) — the
    # driver's Python workers cannot import this module.
    class _Reader(DataSourceReader):
        def __init__(self, n_parts: int = 4, n: int = 10000):
            self.n_parts, self.n = n_parts, n

        def partitions(self):
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            i = partition.value
            per = self.n // self.n_parts
            for k in range(i * per, (i + 1) * per):
                yield (k, k % 7, (k * k) % 97)

    class SyntheticSource(DataSource):
        @classmethod
        def name(cls):
            return "pkss_synthetic"

        def schema(self):
            return "id long, bucket int, val int"

        def reader(self, schema):
            return _Reader()

    # Registration is idempotent: re-registering the same name replaces the
    # previous source (second invocation must not fail).
    spark.dataSource.register(SyntheticSource)
    df = spark.read.format("pkss_synthetic").load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("val").alias("total_val"),
    )


@op(
    "join_dpp_partition_pruned",
    oracle="""
        SELECT e.event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        FROM events e
        WHERE e.event_type IN ('purchase', 'signup')
        GROUP BY e.event_type
    """,
    scale=(
        "DYNAMIC partition pruning — the star-join layout lever at 100 TB. "
        "The fact is partitioned by event_type; the dim is a separate "
        "parquet whose category filter is unknowable at plan time, so "
        "static pruning is impossible. Spark runs the broadcast dim filter "
        "first, REUSES that broadcast as a pruning subquery on the fact's "
        "PartitionFilters (`dynamicpruning#` — pinned in test_plans), and "
        "never lists, opens, or reads the non-matching partitions. On a "
        "date-partitioned 100 TB fact joined to a filtered date dim this "
        "routinely skips >90% of the scan."
    ),
)
def join_dpp_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join the event_type-partitioned fact to a category-filtered dim
    parquet so the fact partitions prune at RUNTIME (DPP), not plan time."""
    tag = fixture_tag(sf_dir)
    fact_dir = os.path.join(SCRATCH, "part_events", tag)
    if not os.path.exists(os.path.join(fact_dir, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events")
        ev.write.mode("overwrite").partitionBy("event_type").parquet(fact_dir)
    dim_dir = os.path.join(SCRATCH, "evt_dim", tag)
    if not os.path.exists(os.path.join(dim_dir, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "events")
            .select("event_type")
            .distinct()
            .withColumn(
                "category",
                F.when(
                    F.col("event_type").isin("purchase", "signup"),
                    "conversion",
                )
                .when(F.col("event_type") == "error", "ops")
                .otherwise("engagement"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dim_dir)
        )
    fact = spark.read.parquet(fact_dir)
    dim = spark.read.parquet(dim_dir).where(F.col("category") == "conversion")
    return (
        fact.join(F.broadcast(dim.select("event_type")), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


@op(
    "sink_partitioned_write",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               min(CAST(ts AS TIMESTAMP)) AS first_ts,
               max(CAST(ts AS TIMESTAMP)) AS last_ts
        FROM events
        GROUP BY event_type
    """,
    scale=(
        "Writer-side clustering — the producer half of the pruning story: "
        "repartition by the partition column (one file per partition dir, "
        "not one per task x partition: no small-file explosion), sort "
        "WITHIN partitions by (ts, event_id) so every parquet row group "
        "carries tight min/max ts stats (row-group skipping for time-range "
        "readers), and cap maxRecordsPerFile so a skewed partition splits "
        "into parallel-readable files. This layout is what makes "
        "scan_partition_pruned and join_dpp_partition_pruned cheap at "
        "100 TB; the read-back agg proves the roundtrip is lossless."
    ),
)
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned + sorted-within-partition parquet write, verified by a
    read-back aggregate."""
    tag = fixture_tag(sf_dir)
    out = os.path.join(SCRATCH, "sink_partsorted", tag)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events")
        (
            ev.repartition("event_type")
            .sortWithinPartitions("event_type", "ts", "event_id")
            .write.partitionBy("event_type")
            .option("maxRecordsPerFile", 50000)
            .mode("overwrite")
            .parquet(out)
        )
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@op(
    "sink_python_datasource",
    oracle="""
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS sum_cents
        FROM events GROUP BY event_type
    """,
    scale=(
        "The WRITE half of the Spark 4 pure-Python DataSource seam "
        "(source_python_datasource is the read half): executors call "
        "write(iterator) per partition and emit a WriterCommitMessage; "
        "the DRIVER's commit() sees all messages and finalizes — the "
        "standard two-phase commit that makes task retries safe (a "
        "failed task's file is never finalized; abort() cleans up). "
        "Here each partition writes a JSON-lines part file and commit() "
        "writes the manifest; the op proves the round trip by reading "
        "the files back and re-aggregating — counts must equal the "
        "source exactly (no lost/duplicated partitions)."
    ),
)
def sink_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events through a pure-Python DataSource writer (2-phase commit:
    per-partition part files + driver manifest), read back, re-aggregate."""
    import glob
    import json as _json
    import uuid as _uuid

    from pyspark.sql.datasource import (
        DataSource,
        DataSourceWriter,
        WriterCommitMessage,
    )

    import shutil

    out_dir = os.path.join(SCRATCH, "pysink", fixture_tag(sf_dir))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)

    # Nested classes: cloudpickled by value (bare-session rule).
    class _Msg(WriterCommitMessage):
        def __init__(self, path, n):
            self.path, self.n = path, n

    class _Writer(DataSourceWriter):
        def __init__(self, path):
            self.path = path

        def write(self, iterator):
            import json
            import os as _os
            import uuid

            part = _os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(part + ".tmp", "w") as f:
                for row in iterator:
                    f.write(
                        json.dumps(
                            {
                                "event_type": row["event_type"],
                                "cents": row["cents"],
                            }
                        )
                        + "\n"
                    )
                    n += 1
            _os.rename(part + ".tmp", part)  # atomic finalize per task
            return _Msg(part, n)

        def commit(self, messages):
            import json
            import os as _os

            manifest = {
                "files": sorted(m.path for m in messages),
                "rows": sum(m.n for m in messages),
            }
            with open(_os.path.join(self.path, "_MANIFEST.json"), "w") as f:
                json.dump(manifest, f)

        def abort(self, messages):
            import os as _os

            for m in messages:
                if m is not None and _os.path.exists(m.path):
                    _os.remove(m.path)

    class JsonlSink(DataSource):
        @classmethod
        def name(cls):
            return "pkss_jsonl_sink"

        def writer(self, schema, overwrite):
            return _Writer(self.options["path"])

    spark.dataSource.register(JsonlSink)
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        cents().alias("cents"),
    )
    ev.write.format("pkss_jsonl_sink").option("path", out_dir).mode(
        "append"
    ).save()

    # Verify the 2-phase commit: manifest must exist and cover every part.
    with open(os.path.join(out_dir, "_MANIFEST.json")) as f:
        manifest = _json.load(f)
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.jsonl")))
    assert parts == manifest["files"], "manifest/part mismatch"

    back = spark.read.json(parts)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").cast("long").alias("sum_cents"),
    )


@op(
    "scan_file_metadata",
    oracle="""
        SELECT CAST(1 AS BIGINT) AS n_files,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(min(event_id) AS BIGINT) AS min_id,
               CAST(max(event_id) AS BIGINT) AS max_id
        FROM events
    """,
    scale=(
        "Hidden _metadata columns on file sources (file_path, file_size, "
        "modification time) — the lineage surface: per-file row "
        "accounting without a separate listing job, because the metadata "
        "struct rides the scan as a constant-per-split column. At 100 TB "
        "this is how you attribute bad rows back to their input file "
        "(quarantine by file), verify a compaction preserved row counts "
        "per input, or bisect a corrupt partition — one aggregation, no "
        "filesystem walk. The fixture is one file per table, so the "
        "oracle pins n_files=1 plus the id range."
    ),
)
def scan_file_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-input-file accounting via the hidden _metadata struct, collapsed
    to (n_files, n_rows, id range)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    per_file = ev.select(
        F.col("_metadata.file_path").alias("fp"), "event_id"
    ).groupBy("fp").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("event_id").alias("mn"),
        F.max("event_id").alias("mx"),
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n").cast("long").alias("n_rows"),
        F.min("mn").alias("min_id"),
        F.max("mx").alias("max_id"),
    )


@op(
    "sink_compact_small_files",
    oracle="""
        SELECT CAST(16 AS BIGINT) AS n_files_before,
               CAST(2 AS BIGINT) AS n_files_after,
               CAST(count(*) AS BIGINT) AS n_rows_before,
               CAST(count(*) AS BIGINT) AS n_rows_after
        FROM events
    """,
    scale=(
        "Small-file compaction — the table-maintenance job every "
        "file-based 100 TB lake runs: N tiny files (here 16, standing in "
        "for a day of per-trigger streaming output) rewritten to "
        "ceil(bytes/target) files via a shuffle-free coalesce. Row-count "
        "equality before/after is the invariant the job asserts; "
        "coalesce (not repartition) keeps the rewrite a read-merge-write "
        "with NO exchange. At scale compaction runs per partition, "
        "picks targets from file-size stats (scan_file_metadata), and "
        "skips partitions already compacted."
    ),
)
def sink_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events as 16 small files, compact to 2 with coalesce, verify
    row conservation and file counts."""
    import glob
    import shutil

    ev = load_table(spark, sf_dir, "events")
    small = os.path.join(SCRATCH, "compact", fixture_tag(sf_dir), "small")
    big = os.path.join(SCRATCH, "compact", fixture_tag(sf_dir), "big")
    shutil.rmtree(os.path.dirname(small), ignore_errors=True)
    ev.repartition(16).write.mode("overwrite").parquet(small)
    before = spark.read.parquet(small)
    n_files_before = len(glob.glob(os.path.join(small, "part-*.parquet")))
    before.coalesce(2).write.mode("overwrite").parquet(big)
    after = spark.read.parquet(big)
    n_files_after = len(glob.glob(os.path.join(big, "part-*.parquet")))
    return (
        before.agg(F.count(F.lit(1)).alias("n_rows_before"))
        .crossJoin(after.agg(F.count(F.lit(1)).alias("n_rows_after")))
        .select(
            F.lit(n_files_before).cast("long").alias("n_files_before"),
            F.lit(n_files_after).cast("long").alias("n_files_after"),
            "n_rows_before",
            "n_rows_after",
        )
    )


@op(
    "scan_union_by_name",
    oracle="""
        SELECT CAST(count(*) AS BIGINT) * 2 AS n_rows,
               CAST(count(*) AS BIGINT) AS n_bal_nonnull,
               CAST(count(*) AS BIGINT) AS n_seg_nonnull
        FROM customer
    """,
    scale=(
        "Schema-evolution union: two producer versions of a table (old "
        "writer without c_mktsegment, new writer without c_acctbal) "
        "combined with unionByName(allowMissingColumns=True) — columns "
        "align BY NAME with null fill, never by position (the silent "
        "column-swap bug positional union invites across schema "
        "versions). Zero shuffle — union is plan concatenation; the "
        "null-count audit is the check a reader runs before trusting a "
        "mixed-version scan."
    ),
)
def scan_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union two schema versions by name with missing-column null fill;
    audit row and non-null counts."""
    cust = load_table(spark, sf_dir, "customer")
    v_old = cust.select("c_custkey", "c_acctbal")
    v_new = cust.select("c_custkey", "c_mktsegment")
    merged = v_old.unionByName(v_new, allowMissingColumns=True)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_bal_nonnull"),
        F.count("c_mktsegment").alias("n_seg_nonnull"),
    )


@op(
    "scan_text_format",
    oracle="SELECT doc_id, source, text FROM documents",
    scale=(
        "Plain-text format leg: one line per record, fields joined by tab "
        "on write and re-split with a bounded split(_, tab, 3) on read — "
        "the 3-way bound keeps tabs inside the payload column intact, "
        "which is the only lossless framing text files can promise. "
        "line-per-record text is splittable by newline, so the read "
        "parallelizes like CSV; schema lives entirely in the reader "
        "(schema-on-read), making this the raw-log ingestion shape: at "
        "100 TB the parse projection runs codegen-side and the parsed "
        "relation should be checkpointed to parquet once, not re-parsed "
        "per query."
    ),
)
def scan_text_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write documents as tab-framed text lines; read + re-parse losslessly."""
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(SCRATCH, f"text_docs_{fixture_tag(sf_dir)}")
    docs.select(
        F.concat_ws("\t", F.col("doc_id"), F.col("source"), F.col("text"))
        .alias("value")
    ).write.mode("overwrite").text(out)
    back = spark.read.text(out)
    parts = F.split(F.col("value"), "\t", 3)
    return back.select(
        parts.getItem(0).cast("long").alias("doc_id"),
        parts.getItem(1).alias("source"),
        parts.getItem(2).alias("text"),
    )


@op(
    "sink_orc_roundtrip",
    oracle="""
        SELECT event_id, user_id, event_type, value,
               CAST(ts AS TIMESTAMP) AS ts
        FROM events
    """,
    scale=(
        "ORC format leg: columnar binary like parquet (stripe stats, "
        "predicate pushdown, type fidelity), so — unlike the CSV/text "
        "legs — doubles and timestamps round-trip bit-exactly, which the "
        "oracle hash proves. ORC is the interchange surface for "
        "Hive-ecosystem consumers; the writer inherits the session's "
        "micro-precision timestamp handling. Splittable stripes keep "
        "reads parallel at any file size; at 100 TB the same statement "
        "holds as for parquet: write once, size stripes to the reader's "
        "partition budget."
    ),
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to ORC and read back — full-fidelity columnar roundtrip."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    out = os.path.join(SCRATCH, f"sink_orc_{fixture_tag(sf_dir)}")
    ev.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@op(
    "gen_date_dimension",
    oracle="""
        SELECT CAST(d AS TIMESTAMP) AS d,
               CAST(year(d) AS INTEGER) AS yr,
               CAST(quarter(d) AS INTEGER) AS qtr,
               CAST(month(d) AS INTEGER) AS mo,
               CAST(isodow(d) AS INTEGER) AS iso_dow,
               isodow(d) >= 6 AS is_weekend,
               CAST(strftime(d, '%Y-%m') AS VARCHAR) AS month_key,
               CAST(date_trunc('week', d) AS TIMESTAMP) AS week_start
        FROM generate_series(DATE '2024-01-01', DATE '2024-12-31',
                             INTERVAL 1 DAY) t(d)
    """,
    scale=(
        "Generated date dimension (the standard warehouse utility "
        "table): sequence() produces the spine executor-side — no "
        "driver loop, no input scan — and every calendar attribute is "
        "a codegen expression over it. ISO day-of-week is derived "
        "portably as (epoch_days + 3) % 7 + 1 (1970-01-01 was a "
        "Thursday) because engines disagree on weekday numbering — "
        "the cross-engine hash proves the convention. A year is 366 "
        "rows; broadcast it everywhere and calendar logic never "
        "touches the fact tables again."
    ),
)
def gen_date_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A 2024 date-dimension table generated entirely from expressions."""
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("dd")
    )
    iso_dow = (
        (F.datediff(F.col("dd"), F.lit("1970-01-01").cast("date")) + 3) % 7
        + 1
    ).cast("int")
    return spine.select(
        F.col("dd").cast("timestamp").alias("d"),
        F.year("dd").cast("int").alias("yr"),
        F.quarter("dd").cast("int").alias("qtr"),
        F.month("dd").cast("int").alias("mo"),
        iso_dow.alias("iso_dow"),
        (iso_dow >= 6).alias("is_weekend"),
        F.date_format("dd", "yyyy-MM").alias("month_key"),
        F.date_trunc("week", "dd").alias("week_start"),
    )


@op(
    "scan_csv_malformed",
    oracle="""
        SELECT
            CAST((SELECT count(*) FROM documents) + 20 AS BIGINT)
                AS n_lines,
            CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_good,
            CAST(20 AS BIGINT) AS n_corrupt
    """,
    scale=(
        "PERMISSIVE CSV parsing: 20 deliberately malformed lines (wrong "
        "arity, unparseable ints) are appended to a well-formed export; "
        "the reader takes an explicit schema + columnNameOfCorruptRecord "
        "so bad rows land in the corrupt column instead of killing the "
        "job — THE ingestion contract for raw vendor drops, where "
        "DROPMALFORMED silently losing rows is the failure mode this op "
        "guards against. The good/corrupt split is one conditional "
        "aggregate; corrupt rows ride along for quarantine "
        "(dq_row_quarantine composes downstream). Parsing is per-row "
        "codegen; the count audit is scan-parallel at any size."
    ),
)
def scan_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read a CSV with injected malformed lines permissively; audit counts."""
    docs = load_table(spark, sf_dir, "documents")
    out = os.path.join(SCRATCH, f"csv_malformed_{fixture_tag(sf_dir)}")
    good = docs.select(
        F.concat_ws(",", F.col("doc_id"), F.col("lang"), F.col("n_chars"))
        .alias("value")
    )
    bad = spark.range(20).select(
        F.concat(
            F.lit("corrupt_row_"), F.col("id"), F.lit(",too,many,fields,x")
        ).alias("value")
    )
    good.unionByName(bad).write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "doc_id long, lang string, n_chars long, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    # Spark refuses queries that reference ONLY the corrupt column
    # (it would skip parsing the rest; see the raiseError in
    # CSVFileFormat) — so the audit keys off the null-parse signal while
    # the _corrupt payload stays selectable for quarantine flows.
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(
            F.when(F.col("doc_id").isNotNull(), 1).otherwise(0)
        ).alias("n_good"),
        F.sum(
            F.when(F.col("doc_id").isNull(), 1).otherwise(0)
        ).alias("n_corrupt"),
    )


@op(
    "sink_sketch_roundtrip",
    oracle="""
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct,
               TRUE AS roundtrip_equals_direct,
               TRUE AS within_5pct
        FROM events
    """,
    scale=(
        "The sketch-persistence contract end-to-end: per-day HLL "
        "sketches land in parquet as ordinary binary columns, a fresh "
        "read unions them, and the result is REGISTER-IDENTICAL to "
        "sketching the raw stream directly (HLL union = per-register "
        "max — lossless at equal lgConfigK), which the "
        "roundtrip_equals_direct flag proves. This is the nightly-"
        "rollup architecture in miniature: at 100 TB you never re-scan "
        "history for a distinct count — you union 365 stored 4KB "
        "sketches. Estimate audited against exact at 5% "
        "(lgConfigK=12)."
    ),
)
def sink_sketch_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persist daily HLL sketches to parquet, re-read, union, and audit."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    out = os.path.join(SCRATCH, f"sketches_{fixture_tag(sf_dir)}")
    daily.write.mode("overwrite").parquet(out)
    merged = spark.read.parquet(out).agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_rt")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("user_id", F.lit(12))
        ).alias("est_direct"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    return merged.crossJoin(direct).select(
        "exact_distinct",
        (F.col("est_rt") == F.col("est_direct")).alias(
            "roundtrip_equals_direct"
        ),
        (
            F.abs(F.col("est_rt") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_5pct"),
    )

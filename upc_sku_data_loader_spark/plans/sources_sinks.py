"""§2.A sources/sinks + §2.I9/I10 sink-side streaming (SURVEY.md §2.A;
reference file:line n/a — empty tree §0.1).

The reference's whole job is A-family: read a UPC worklist, fetch
product records from a REST API, upsert into a relational table.  Each
operator here round-trips real bytes (CSV/JSON/parquet on disk, sqlite
for the DB sink, an in-process fake for HTTP) and is hash-checked
against an oracle that reads the ORIGINAL fixture — so the check proves
the source/sink is lossless, not merely that it runs.

Scratch files live under ``<repo>/.scratch/<sf-tag>/`` (gitignored);
everything written there is deterministically rebuilt per run.
"""

from __future__ import annotations

import functools
import os
import shutil
import sqlite3
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..functions.exprs import fsum, fsum_sql
from ..functions.upc import gtin_check_digit_sql
from ..registry import query
from ..sources.db import db_sink_upsert, db_source, jdbc_sink_append
from ..sources.files import csv_source, json_source, parquet_sink
from ..sources.rest_api import fetch_products
from ..streaming.sources import (
    read_events_stream,
    run_available_now,
    stream_state_partitions,
)

_REPO = Path(__file__).resolve().parents[2]


def _scratch(sf_dir: str, name: str) -> str:
    # SPARK_GRAFT_SCRATCH relocates the whole scratch tree — the hook
    # that lets concurrent pytest shards (tools/fast_pytest.py) run
    # side-effecting builders without racing on shared paths.
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    base = Path(root) if root else _REPO / ".scratch"
    p = base / (Path(sf_dir).name or "sf") / name
    p.parent.mkdir(parents=True, exist_ok=True)
    return str(p)


def _scratch_pid_db(sf_dir: str, prefix: str) -> str:
    """PID-scoped embedded-DB dir (Derby holds a single-process boot
    lock, so concurrent verify/pytest runs must not share a path) with
    garbage collection: sibling ``{prefix}_<pid>`` dirs whose owning
    process is gone are removed on entry, so .scratch/ stops
    accumulating one permanent Derby database per past run.  A live
    sibling (concurrent run) is left untouched.
    """
    import shutil

    path = Path(_scratch(sf_dir, f"{prefix}_{os.getpid()}"))
    for sib in path.parent.glob(f"{prefix}_*"):
        try:
            pid = int(sib.name.rsplit("_", 1)[-1])
        except ValueError:
            continue
        if pid == os.getpid():
            continue
        try:
            os.kill(pid, 0)  # raises if no such process
        except ProcessLookupError:
            shutil.rmtree(sib, ignore_errors=True)
        except PermissionError:
            pass  # pid exists but owned elsewhere — leave it
    return str(path)


# --- A1: parquet scan (projection + predicate reach the reader) ---------------


@query(
    "a1_parquet_scan",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice
    FROM part
    WHERE p_size >= 30
    """,
)
def a1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # .explain shows PushedFilters: [GreaterThanOrEqual(p_size,30)] and
    # ReadSchema with exactly these four columns — scan-level pruning.
    return (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") >= 30)
        .select("p_partkey", "p_name", "p_retailprice")
    )


# --- A2: CSV source (explicit schema; lossless round-trip) --------------------


@query(
    "a2_csv_source",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def a2_csv_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    path = _scratch(sf_dir, "customer_csv")
    load(spark, sf_dir, "customer").select(*cols).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    # Doubles survive: Spark writes shortest-round-trip decimal strings.
    return csv_source(
        spark,
        path,
        "c_custkey bigint, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )


# --- A3: JSON-lines source (API payload dumps) --------------------------------


@query(
    "a3_json_source",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(o_orderdate AS DATE) AS o_date
    FROM orders
    """,
)
def a3_json_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "orders_jsonl")
    (
        load(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_date"),
        )
        .write.mode("overwrite")
        .json(path)
    )
    return json_source(
        spark,
        path,
        "o_orderkey bigint, o_orderstatus string, o_totalprice double, o_date date",
    )


# --- A4: REST API source (the reference's defining ingest) --------------------


@query(
    "a4_rest_api_source",
    oracle="""
    WITH w AS (SELECT lpad(CAST(p_partkey AS VARCHAR), 12, '0') AS upc,
                      -- digits come from the 12-char UPC STRING, not the
                      -- raw key: lpad truncates a snowflake-regime key to
                      -- its first 12 digits and the fake API derives its
                      -- payload from that string (fuzz sweep, seed 7)
                      CAST(lpad(CAST(p_partkey AS VARCHAR), 12, '0')
                           AS BIGINT) AS digits
               FROM part)
    SELECT upc,
           'SKU-' || upc AS sku,
           'Brand#' || CAST(digits % 25 + 1 AS VARCHAR) AS brand,
           CAST(digits % 100000 AS DOUBLE) / 100.0 AS price,
           digits % 2 = 0 AS in_stock
    FROM w
    """,
)
def a4_rest_api_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worklist → paginated fetch (fake deterministic API) → typed rows.

    The oracle recomputes the API's pure payload function in SQL, so the
    full pipeline — page assignment, mapInArrow fan-out, JSON parse,
    schema projection — is value-hash-checked end to end.
    """
    worklist = (
        load(spark, sf_dir, "part")
        .select(F.lpad(F.col("p_partkey").cast("string"), 12, "0").alias("upc"))
    )
    return fetch_products(worklist, page_size=100)


# --- A5+A7: DB source + idempotent upsert sink (sqlite-backed) ----------------


@query(
    "a5_a7_db_upsert_roundtrip",
    oracle="""
    SELECT c_custkey, c_name,
           c_acctbal + CASE WHEN c_custkey % 10 = 0 THEN 1000.0 ELSE 0.0 END
             AS c_acctbal
    FROM customer
    """,
)
def a5_a7_db_upsert_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-batch upsert, then a delta-batch upsert (same keys, changed
    balances), then read the final table state back (A5).  Applying the
    full batch TWICE first proves idempotence — the exact property that
    makes Spark task retries safe against a real MySQL (A7).
    """
    db_path = _scratch(sf_dir, "upsert.sqlite")
    Path(db_path).unlink(missing_ok=True)
    ddl = sqlite3.connect(db_path)
    ddl.execute(
        "CREATE TABLE cust (c_custkey INTEGER PRIMARY KEY, "
        "c_name TEXT, c_acctbal REAL)"
    )
    ddl.commit()
    ddl.close()

    conn_factory = functools.partial(sqlite3.connect, db_path, timeout=60.0)
    base = load(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    upsert = functools.partial(
        db_sink_upsert,
        conn_factory=conn_factory,
        table="cust",
        key_cols=["c_custkey"],
        dialect="sqlite",
        max_connections=4,  # sqlite single-writer: keep fan-in tiny
    )
    upsert(base)
    upsert(base)  # idempotent: second pass is a no-op on final state
    delta = base.filter(F.col("c_custkey") % 10 == 0).withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(1000.0)
    )
    upsert(delta)  # ON CONFLICT DO UPDATE path

    return db_source(
        spark,
        conn_factory,
        "SELECT c_custkey, c_name, c_acctbal FROM cust",
        "c_custkey bigint, c_name string, c_acctbal double",
    )


# --- A6: Spark-native JDBC sink append (embedded Derby) -----------------------


@query(
    "a6_jdbc_sink_append",
    oracle="""
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    UNION ALL
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    """,
)
def a6_jdbc_sink_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 `df.write.jdbc` exercised for real: Spark ships Apache Derby
    on its classpath (the Hive-metastore default), so the embedded
    Derby driver gives a genuine JDBC URL with zero extra jars.  First
    write is mode("overwrite") (drops + recreates the table — makes the
    query idempotent per run), second is mode("append") — the sink
    under test — so the read-back table holds exactly 2× the source and
    proves the append accumulated rather than replaced.  Read-back goes
    through ``spark.read.jdbc`` (A5's Spark-native path).  On a real
    cluster the same code targets MySQL/Postgres by swapping URL +
    driver; parallelism = DataFrame partitions (one JDBC connection
    each), batched inserts under the hood.
    """
    db = _scratch_pid_db(sf_dir, "derby_a6_db")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    # Derby embedded = single JVM writer; coalesce keeps connection
    # fan-in tiny here (cluster targets raise it for parallel load).
    src = src.coalesce(2)
    src.write.mode("overwrite").format("jdbc").option("url", url).option(
        "dbtable", "SUPP_LOAD"
    ).options(**props).save()
    jdbc_sink_append(src, url, "SUPP_LOAD", props)
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "SUPP_LOAD")
        .options(**props)
        .load()
    )
    return back.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        F.col("s_acctbal").cast("double").alias("s_acctbal"),
    )


# --- A8: partitioned parquet sink (+ partition-pruned re-read) ----------------


@query(
    "a8_parquet_sink",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_returnflag
    FROM lineitem
    WHERE l_returnflag = 'R'
    """,
)
def a8_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _scratch(sf_dir, "lineitem_by_flag")
    shutil.rmtree(path, ignore_errors=True)
    src = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
    )
    parquet_sink(src, path, partition_by=["l_returnflag"])
    # Re-read filters on the partition key: Catalyst prunes to the R/
    # directory — PartitionFilters in .explain, zero non-R bytes read.
    # Explicit schema: a write of an EMPTY relation leaves no part files
    # to infer from, and a possibly-empty sink must still read back
    # (empty-corpus sweep, r8).
    return (
        spark.read.schema(src.schema).parquet(path)
        .filter(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_returnflag"
        )
    )


# --- A9: true streaming source (readStream → availableNow → memory sink) ------


@query(
    "a9_stream_source",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events
    FROM events
    GROUP BY event_type
    """,
)
def a9_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    return run_available_now(agg, f"a9_counts_{tag}", sf_dir)


# --- I9: foreachBatch → idempotent DB upsert (the reference's load loop,
#         made continuous) -----------------------------------------------------


@query(
    "i9_foreachbatch_upsert",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
)
def i9_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream micro-batches land via the SAME A7 upsert writer keyed by
    event_id — at-least-once delivery + idempotent sink = exactly-once
    table state.  Final state is aggregated in the DB and hash-checked.
    """
    db_path = _scratch(sf_dir, "stream_upsert.sqlite")
    Path(db_path).unlink(missing_ok=True)
    # checkpoint and DB form one unit of state: a retained checkpoint
    # with a fresh DB would replay nothing and leave the table empty
    chk = _scratch(sf_dir, "i9_chk")
    shutil.rmtree(chk, ignore_errors=True)
    ddl = sqlite3.connect(db_path)
    ddl.execute(
        "CREATE TABLE ev (event_id INTEGER PRIMARY KEY, event_type TEXT)"
    )
    ddl.commit()
    ddl.close()
    conn_factory = functools.partial(sqlite3.connect, db_path, timeout=60.0)

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        db_sink_upsert(
            batch_df.select("event_id", "event_type"),
            conn_factory=conn_factory,
            table="ev",
            key_cols=["event_id"],
            dialect="sqlite",
            max_connections=4,
        )

    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    q = (
        stream.writeStream.foreachBatch(sink_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", chk)
        .start()
    )
    q.awaitTermination()

    return db_source(
        spark,
        conn_factory,
        "SELECT event_type, COUNT(*) AS n FROM ev GROUP BY event_type",
        "event_type string, n bigint",
    )


# --- ETL: the reference's whole flow, end to end (SURVEY §3.2) ----------------


@query(
    "etl_load_upcs",
    oracle="""
    WITH w AS (
      SELECT lpad(CAST(((p_partkey % 1000003) * 2654435761) % 1000000000000 AS VARCHAR),
                  13, '0') AS upc,
             ((p_partkey % 1000003) * 2654435761) % 1000000000000 AS digits,
             p_partkey % 7 = 0 AS seeded
      FROM part
    )
    SELECT upc,
           CASE WHEN seeded THEN 'SEED' ELSE 'SKU-' || upc END AS sku,
           CASE WHEN seeded THEN 'SEED'
                ELSE 'Brand#' || CAST(digits % 25 + 1 AS VARCHAR) END AS brand,
           CASE WHEN seeded THEN 0.0
                ELSE CAST(digits % 100000 AS DOUBLE) / 100.0 END AS price,
           CASE WHEN seeded THEN FALSE ELSE digits % 2 = 0 END AS in_stock
    FROM w
    """,
)
def etl_load_upcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worklist → normalize → dedup → anti-join delta → REST fetch →
    upsert, then read the final table state back.  Seeded rows (SEED
    markers) must come through untouched — that PROVES the anti-join
    skipped already-loaded keys; everything else carries the API payload
    (a pure function of the UPC the oracle recomputes in SQL).

    The worklist is messy on purpose: synth_raw_upc emits 'dddd-dddddddd'
    strings (dash stripped by B9 normalize) and every UPC appears twice
    (overlapping pages — G4 dedup collapses them).

    Cardinality caveat (engine-identical; functions/upc.py): keys
    congruent mod 1000003 synthesize the same UPC, so at >= 1000003
    distinct part keys (~sf>=10) the dedup/upsert collapses extra rows.
    """
    from ..functions.upc import synth_raw_upc
    from ..pipelines.etl import load_upcs

    part = load(spark, sf_dir, "part")
    worklist = part.select(synth_raw_upc("p_partkey").alias("upc_raw"))
    worklist = worklist.unionAll(worklist)  # simulate overlapping batches
    # % 1000003 first: a snowflake-regime partkey times the 32-bit
    # constant overflows int64 (fuzz sweep; functions/upc.py note)
    digits = (F.col("p_partkey") % 1000003) * 2654435761 % 1000000000000
    existing = (
        part.filter(F.col("p_partkey") % 7 == 0)
        .select(F.lpad(digits.cast("string"), 13, "0").alias("upc"))
    )

    db_path = _scratch(sf_dir, "etl.sqlite")
    Path(db_path).unlink(missing_ok=True)
    ddl = sqlite3.connect(db_path)
    ddl.execute(
        "CREATE TABLE products (upc TEXT PRIMARY KEY, sku TEXT, brand TEXT, "
        "price REAL, in_stock INTEGER)"
    )
    ddl.executemany(
        "INSERT INTO products VALUES (?, 'SEED', 'SEED', 0.0, 0)",
        [(r["upc"],) for r in existing.collect()],  # small key snapshot
    )
    ddl.commit()
    ddl.close()
    conn_factory = functools.partial(sqlite3.connect, db_path, timeout=60.0)

    load_upcs(
        worklist,
        existing_keys=existing,
        conn_factory=conn_factory,
        table="products",
        page_size=100,
    )
    return db_source(
        spark,
        conn_factory,
        "SELECT upc, sku, brand, price, in_stock FROM products",
        "upc string, sku string, brand string, price double, in_stock int",
    ).withColumn("in_stock", F.col("in_stock").cast("boolean"))


# --- I10: output modes + triggers + multi-micro-batch watermark run -----------


@query("i10_output_modes_triggers")  # rows-only: emitted-window set depends
def i10_output_modes_triggers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append mode with a watermark over MULTIPLE micro-batches
    (maxFilesPerTrigger=1 over a multi-file copy of events): append only
    emits windows finalized by the advancing watermark, so the emitted
    set depends on file arrival order — inherently streaming semantics,
    hence rows-only (SURVEY §2.I I10 'rows').
    """
    src = _scratch(sf_dir, "events_multi")
    shutil.rmtree(src, ignore_errors=True)
    # 4 files ⇒ 4 micro-batches; watermark advances between them.  The scratch
    # copy is written in the CANONICAL form (ts as µs timestamp_ntz, via
    # catalog.normalize_events_ts) so the streaming schema below is
    # independent of which physical encoding (ns vs µs) the fixture shipped.
    load(spark, sf_dir, "events").drop("ts_ns").repartition(4).write.parquet(src)

    from pyspark.sql import types as T

    canon_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    raw = (
        spark.readStream.schema(canon_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        # watermark needs TIMESTAMP (LTZ); session tz is pinned UTC so the
        # values equal the ntz reading used everywhere else
        .withColumn("ts", F.expr("cast(ts as timestamp)"))
    )
    windowed = (
        raw.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("window.start").alias("win_start"),
            "event_type",
            "n",
        )
    )
    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    name = f"i10_append_{tag}"
    with stream_state_partitions(spark, sf_dir):
        q = (
            windowed.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")  # ≠ complete: only watermark-closed windows
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


# --- A10: ORC round-trip (columnar alternative to parquet) --------------------


@query(
    "a10_orc_roundtrip",
    oracle="""
    SELECT p_partkey, p_brand, p_size, p_retailprice
    FROM part
    WHERE p_size >= 25
    """,
)
def a10_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write→read round-trip (Spark's second first-class columnar
    format; same predicate-pushdown/column-pruning machinery as
    parquet).  The oracle reads the ORIGINAL parquet fixture, so a pass
    proves the ORC hop is lossless — DuckDB never needs to read ORC."""
    path = _scratch(sf_dir, "part_orc")
    shutil.rmtree(path, ignore_errors=True)
    load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    ).write.mode("overwrite").orc(path)
    return spark.read.orc(path).filter(F.col("p_size") >= 25).select(
        "p_partkey", "p_brand", "p_size", "p_retailprice"
    )


# --- A11: text source (line-per-record, self-describing payload) --------------


@query(
    "a11_text_source",
    oracle="""
    SELECT doc_id,
           len(string_split(COALESCE(text, ''), ' ')) AS n_words,
           length(COALESCE(text, '')) AS n_chars
    FROM documents
    """,
)
def a11_text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.read.text ingestion: each line is ``<doc_id>|<text>``;
    the reader splits on the first '|' and recomputes word counts.
    Oracle reads the original table, proving the text hop round-trips.
    Line-oriented text is the lowest-common-denominator crawl format —
    splittable, so 100 TB of it parallelizes per HDFS/S3 block.
    NULL text canonicalizes to the empty string on BOTH sides (--nulls
    sweep): a line-oriented file has no NULL representation, so the hop
    is lossy there by construction and the oracle models the loss."""
    path = _scratch(sf_dir, "documents_txt")
    shutil.rmtree(path, ignore_errors=True)
    d = load(spark, sf_dir, "documents")
    d.select(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("|"),
            F.coalesce(F.col("text"), F.lit("")),
        ).alias("value")
    ).write.mode("overwrite").text(path)
    lines = spark.read.text(path)
    doc_id = F.split("value", r"\|", 2).getItem(0).cast("long")
    body = F.split("value", r"\|", 2).getItem(1)
    return lines.select(
        doc_id.alias("doc_id"),
        F.size(F.split(body, " ")).alias("n_words"),
        F.length(body).alias("n_chars"),
    )


# --- A12: binaryFile source (opaque blobs + metadata, multimodal shape) -------


@query(
    "a12_binaryfile_source",
    oracle="""
    SELECT doc_id, strlen(text) AS n_bytes, sha256(text) AS content_sha
    FROM documents
    WHERE doc_id % 25 = 0 AND text IS NOT NULL
    """,
)
def a12_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.read.format('binaryFile')``: one row per file with
    (path, length, content: binary) — the ingestion shape for
    image/audio corpora (SURVEY §2.K15 consumes the same layout).
    Files are materialized from the fixture deterministically; the
    oracle hashes the original text, so a pass proves byte-exact
    ingestion.  Binary columns never appear in the output (driver
    canonicalizer rule) — content is surfaced as sha2 hex."""
    out = Path(_scratch(sf_dir, "doc_blobs"))
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    # NULL-text docs materialize NO file (a missing blob has no bytes;
    # fuzz sweep) — the oracle filters them identically
    d = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 25 == 0) & F.col("text").isNotNull()
    )
    for row in d.select("doc_id", "text").collect():  # few dozen small files
        (out / f"{row['doc_id']}.bin").write_bytes(row["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").load(str(out))
    return files.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


# --- ETL: SCD2 history build (validity intervals per key) ---------------------


@query(
    "etl_scd2_history",
    oracle="""
    SELECT user_id,
           event_type,
           ROW_NUMBER() OVER w AS version,
           ts AS valid_from,
           LEAD(ts) OVER w AS valid_to,
           (LEAD(ts) OVER w IS NULL) AS is_current
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: each event opens a new
    version of its user's state; `lead(ts)` closes the previous one
    (open-ended validity for the latest).  The warehouse pattern for
    'latest record wins' upserts with full history retained.  One
    window shuffle on user_id; event_id breaks ts ties so version
    numbering is deterministic cross-engine.  The oracle pins NULLS
    FIRST (Spark's ASC default): an undated change record versions
    BEFORE recorded history rather than re-ordering per engine."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id",
        "event_type",
        F.row_number().over(w).alias("version"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


# --- I12: streaming parquet file sink (checkpointed, exactly-once) ------------


@query(
    "i12_stream_parquet_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           """ + fsum_sql("value", "total_value") + """
    FROM events
    WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
    """,
)
def i12_stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream → filter/project → **parquet file sink** with a
    checkpoint directory (exactly-once: the sink commits files
    atomically per micro-batch; on restart the checkpoint skips
    committed batches).  The streamed output is then re-read as a batch
    table and aggregated — a pass proves no row was lost or duplicated
    across the stream hop.  This is the durable-sink twin of I10's
    memory sink."""
    out = _scratch(sf_dir, "stream_out_parquet")
    ckpt = _scratch(sf_dir, "stream_out_ckpt")
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = read_events_stream(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "signup")
    ).select("event_id", "user_id", "event_type", "value")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            fsum("value", "total_value"),
        )
    )


# --- A13: small-files compaction (table maintenance) --------------------------


@query(
    "a13_compact_small_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def a13_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: a fragmented table (64 shards from an
    over-parallel upstream write) is rewritten into a few right-sized
    files with `coalesce` — coalesce narrows partitions WITHOUT a
    shuffle, which is the point of the maintenance pass.  At 100 TB the
    same job runs per partition-directory with a target file size
    (maxRecordsPerFile); a pass against the original-table oracle
    proves compaction is content-lossless.  File-count invariants are
    pinned in tests/test_plans.py."""
    frag = _scratch(sf_dir, "orders_fragmented")
    compact = _scratch(sf_dir, "orders_compacted")
    shutil.rmtree(frag, ignore_errors=True)
    shutil.rmtree(compact, ignore_errors=True)
    src = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    src.repartition(64).write.parquet(frag)  # the fragmented upstream state
    spark.read.parquet(frag).coalesce(4).write.parquet(compact)
    return spark.read.parquet(compact)


# --- A14: schema-evolution read (mergeSchema across file generations) ----------


@query(
    "a14_schema_evolution_read",
    oracle="""
    SELECT r_regionkey, r_name, NULL AS r_zone FROM region
    UNION ALL
    SELECT n_nationkey AS r_regionkey, n_name AS r_name,
           CAST(n_regionkey AS BIGINT) AS r_zone
    FROM nation
    """,
)
def a14_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the storage layer: generation-1 files lack a
    column that generation-2 files carry; `mergeSchema=true` reconciles
    the footer schemas and null-fills the missing column for old files.
    How a 100 TB table absorbs additive schema changes without a
    rewrite.  The oracle recomputes the union from the original tables,
    proving both generations surface losslessly."""
    path = _scratch(sf_dir, "evolving_table")
    shutil.rmtree(path, ignore_errors=True)
    load(spark, sf_dir, "region").select("r_regionkey", "r_name").write.parquet(
        f"{path}/gen=1"
    )
    load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("r_regionkey"),
        F.col("n_name").alias("r_name"),
        F.col("n_regionkey").cast("bigint").alias("r_zone"),
    ).write.parquet(f"{path}/gen=2")
    return (
        spark.read.option("mergeSchema", True)
        .parquet(path)
        .select("r_regionkey", "r_name", "r_zone")
    )


# --- ETL3: incremental merge (latest-wins snapshot + delta consolidation) ------


@query(
    "etl3_incremental_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS batch_id
      FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
    ),
    delta AS (
      SELECT o_orderkey, 'X' AS o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice, 2 AS batch_id
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1998-01-01'
         OR o_orderkey % 97 = 0
    ),
    merged AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY batch_id DESC) AS rn
      FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice, batch_id
    FROM merged WHERE rn = 1
    """,
)
def etl3_incremental_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental warehouse merge: a base snapshot consolidated with a
    delta batch (updates + late arrivals), latest-batch-wins per key —
    the `MERGE INTO` semantic expressed as union + row_number, which is
    exactly how Spark implements upsert on plain parquet (no
    table-format dependency).  One shuffle on the key; at 100 TB the
    delta is typically ≪ base, so the sort inside each partition is
    cheap and the base never rewrites more than the touched partitions
    when combined with partitionBy on the write."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    base = o.filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", F.lit(1).alias("batch_id"))
    delta = o.filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        | (F.col("o_orderkey") % 97 == 0)
    ).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
        F.lit(2).alias("batch_id"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("batch_id"))
    return (
        base.unionByName(delta)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# --- A15: clustered (sorted) write → file-stat data skipping ------------------


@query(
    "a15_clustered_write",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS total
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-07-01'
    GROUP BY month
    """,
)
def a15_clustered_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-on-write: `repartitionByRange(o_orderdate)` +
    `sortWithinPartitions` lays orders out so each parquet file covers
    a narrow, disjoint o_orderdate range — parquet footer min/max stats
    then let ANY later range scan skip whole files/row-groups without
    an index (the poor-man's Z-order for one dimension; the layout
    invariant is pinned via pyarrow footer stats in tests).  The query
    re-reads the clustered table with a 6-month predicate and
    aggregates; the oracle runs the same query on the ORIGINAL table,
    proving the rewrite is content-lossless.  At 100 TB this is the
    nightly table-maintenance pass: range partitioner sampling picks
    balanced file boundaries automatically."""
    clustered = _scratch(sf_dir, "orders_clustered")
    shutil.rmtree(clustered, ignore_errors=True)
    (
        load(spark, sf_dir, "orders")
        .repartitionByRange(8, "o_orderdate")
        .sortWithinPartitions("o_orderdate")
        .write.parquet(clustered)
    )
    o = spark.read.parquet(clustered).filter(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-07-01")
    )
    return (
        o.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("month")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total"),
        )
    )


# --- ETL4: dynamic partition overwrite (incremental partition reload) ---------


@query(
    "etl4_partition_overwrite",
    # Final table state: untouched partitions keep batch-1 rows; the
    # partitions present in the delta hold ONLY batch-2 rows.  The
    # overwritten set is DERIVED from the delta (a partition with zero
    # delta rows keeps its batch-1 rows even if its priority matches the
    # delta's filter — dynamic overwrite only replaces partitions that
    # receive rows; degenerate-sweep finding, r8).
    oracle="""
    WITH delta AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice * 2.0 AS o_totalprice,
             2 AS batch_id
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND o_orderkey % 3 = 0
    )
    SELECT o_orderkey, o_orderpriority, o_totalprice, 1 AS batch_id
    FROM orders
    -- IS NULL OR: a NULL-priority row lives in Spark's
    -- __HIVE_DEFAULT_PARTITION__, which the delta never touches; bare
    -- NOT IN would three-valued-logic it out of existence (--nulls).
    -- The subquery-side IS NOT NULL makes the NOT IN NULL-proof BY
    -- CONSTRUCTION: today delta's IN-list filter can't admit a NULL
    -- priority, but if that predicate is ever loosened, one NULL in the
    -- subquery would silently empty this whole branch (r9 advice).
    WHERE o_orderpriority IS NULL
       OR o_orderpriority NOT IN (SELECT DISTINCT o_orderpriority FROM delta
                                  WHERE o_orderpriority IS NOT NULL)
    UNION ALL
    SELECT o_orderkey, o_orderpriority, o_totalprice, batch_id FROM delta
    """,
)
def etl4_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the incremental-reload idiom for
    partitioned 100 TB tables: a delta batch replaces ONLY the
    partitions it contains rows for (`partitionOverwriteMode=dynamic`),
    leaving every other partition's files untouched.  Static mode would
    truncate the whole table; per-partition delete-then-insert races
    readers.  Here batch 1 loads all priorities partitioned by
    o_orderpriority; batch 2 overwrites just URGENT/HIGH with a
    restated subset (every third order, doubled price).  The read-back
    proves partition isolation: NOT-overwritten partitions still serve
    batch-1 rows byte-for-byte.  The conf is set per-write and restored
    (session default stays static)."""
    path = _scratch(sf_dir, "orders_by_priority")
    shutil.rmtree(path, ignore_errors=True)
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base = o.withColumn("batch_id", F.lit(1))
    base.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    delta = (
        o.filter(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderkey") % 3 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("batch_id", F.lit(2))
    )
    conf = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "dynamic")
    try:
        delta.write.partitionBy("o_orderpriority").mode("overwrite").parquet(path)
    finally:
        spark.conf.set(conf, old)
    # explicit schema: an empty base write has no files to infer from
    back = spark.read.schema(base.schema).parquet(path)
    return back.select(
        "o_orderkey",
        F.col("o_orderpriority").cast("string").alias("o_orderpriority"),
        "o_totalprice",
        F.col("batch_id").cast("int").alias("batch_id"),
    )


# --- ETL5: single-pass load audit via the Observation API ---------------------


@query(
    "etl5_observed_load",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_totalprice) AS n_null_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS total_price,
           COUNT(CASE WHEN o_totalprice < 0 THEN 1 END) AS n_negative
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def etl5_observed_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-audit metrics captured in the SAME pass as the load
    (`df.observe` / Observation API): row count, null count, exact
    total, and a data-quality violation count ride the load job as
    accumulator-style aggregates — no second scan over the input.
    This is the pattern that replaces the reference-style 'load then
    run COUNT(*) sanity queries' double read: at 100 TB the audit scan
    IS the expensive part, so it must piggyback on the write pass.
    The observed metrics are returned as the (1-row) result and
    hash-checked; the observation itself is driver-visible only after
    an action, which the foreachBatch-style sink in real pipelines
    provides."""
    from pyspark.sql import Observation

    obs = Observation("load_audit")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count("o_totalprice")).alias("n_null_price"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("total_price"),
            F.count(F.when(F.col("o_totalprice") < 0, 1)).alias("n_negative"),
        )
    )
    # The "load": write the pass-through to scratch parquet (the action
    # that materializes the observation).
    path = _scratch(sf_dir, "etl5_loaded_orders")
    shutil.rmtree(path, ignore_errors=True)
    o.write.mode("overwrite").parquet(path)
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_price"],
                m["total_price"],
                m["n_negative"],
            )
        ],
        "n_rows bigint, n_null_price bigint, total_price double, n_negative bigint",
    )


# --- A16: custom source via the Python Data Source API ------------------------


@query(
    "a16_python_datasource",
    oracle=f"""
    SELECT seq,
           body || CAST({gtin_check_digit_sql("body", 11)} AS VARCHAR) AS upc
    FROM (
      SELECT g AS seq, lpad(CAST(g AS VARCHAR), 11, '0') AS body
      FROM generate_series(0, 1999) AS t(g)
    )
    """,
)
def a16_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python Data Source API: the UPC worklist as a NATIVE
    source (`spark.read.format("upc_worklist")`) rather than a
    driver-built DataFrame.  The reader plans range-shard
    InputPartitions on the driver (O(#partitions) metadata) and every
    executor generates only its shard — the pattern for wrapping any
    Python-reachable system (REST cursors, queue checkpoints, custom
    binary formats) as a first-class parallel source with pushdown-free
    but partition-parallel scan semantics.  Registration is idempotent
    per session; rows are deterministic so the SQL twin regenerates the
    identical relation (body + GS1 mod-10 check digit)."""
    from ..sources.python_ds import UpcWorklistDataSource

    try:
        spark.dataSource.register(UpcWorklistDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    return (
        spark.read.format("upc_worklist")
        .option("n", 2000)
        .option("numPartitions", 8)
        .load()
    )

# --- A17: XML source (Spark 4 native reader/writer) ---------------------------


@query(
    "a17_xml_source",
    oracle="""
    SELECT p_partkey, p_name, p_size, p_retailprice
    FROM part
    """,
)
def a17_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: XML ingestion via Spark 4's NATIVE xml format (no external
    package — the spark-xml connector was donated into core).  The
    round-trip exercises XML's defining trait, hierarchy: each part row
    is written as a ``<part>`` element whose dimensions live in a
    nested ``<dims>`` child element, and the reader declares the nested
    shape in the schema and flattens it back out.  Content is lossless
    (doubles round-trip via shortest-decimal text; names survive entity
    escaping), so the oracle is a plain SELECT on the original table.
    Reads parallelize per file split like any other file source, and
    the explicit schema skips the infer pass (a full extra scan at
    100 TB)."""
    path = _scratch(sf_dir, "part_xml")
    (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            "p_name",
            F.struct("p_size", "p_retailprice").alias("dims"),
        )
        .write.mode("overwrite")
        .format("xml")
        .option("rowTag", "part")
        .save(path)
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "part")
        # keep whitespace-only names byte-exact (fuzz sweep): the
        # reader's default trims surrounding spaces, which would break
        # the lossless-round-trip claim the plain-SELECT oracle states
        .option("ignoreSurroundingSpaces", "false")
        .schema(
            "p_partkey bigint, p_name string, "
            "dims struct<p_size:int, p_retailprice:double>"
        )
        .load(path)
        .select(
            "p_partkey", "p_name", "dims.p_size", "dims.p_retailprice"
        )
    )


# --- ETL6: CDC apply (ordered I/U/D changefeed → latest snapshot) -------------


@query(
    "etl6_cdc_apply",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 = 0
    ),
    feed AS (
      SELECT o_orderkey,
             CASE o_orderkey % 7
               WHEN 0 THEN 'D'
               WHEN 1 THEN 'I'
               ELSE 'U' END AS op,
             'C' AS o_orderstatus,
             o_totalprice,
             o_orderkey % 5 + 1 AS seq
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    unioned AS (
      SELECT o_orderkey, 'U' AS op, o_orderstatus, o_totalprice, 0 AS seq
      FROM base
      UNION ALL
      SELECT o_orderkey, op, o_orderstatus, o_totalprice, seq FROM feed
    ),
    latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                                   ORDER BY seq DESC) AS rn
      FROM unioned
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM latest WHERE rn = 1 AND op != 'D'
    """,
)
def etl6_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changefeed application — the Debezium/Delta `MERGE` shape:
    a base snapshot plus an ordered insert/update/delete feed collapse
    to the latest surviving row per key (max change-sequence wins;
    a terminal D tombstone removes the key).  The feed is synthesized
    deterministically from orders so both engines replay the identical
    change stream.

    Same single-shuffle union + per-key window as etl3 — the
    table-format-free MERGE plan; deletes cost nothing extra (the
    tombstone just wins the window and is filtered).  At 100 TB the
    feed is ≪ base and AQE skew-handles hot keys."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_orderstatus",
        "o_totalprice",
        F.lit(0).alias("seq"),
    )
    feed = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, "D")
        .when(F.col("o_orderkey") % 7 == 1, "I")
        .otherwise("U")
        .alias("op"),
        F.lit("C").alias("o_orderstatus"),
        F.col("o_totalprice"),
        (F.col("o_orderkey") % 5 + 1).alias("seq"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    return (
        base.unionByName(feed)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )


# --- A18: hive-partitioned write → partition-pruned read ----------------------


@query(
    "a18_partition_pruned_read",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def a18_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition pruning — THE scan
    optimization at 100 TB: the table is written
    `partitionBy(o_orderpriority)` (one directory per value) and the
    predicate is satisfied by reading ONLY the two matching directories;
    the other partitions are never opened.  The pruning is
    plan-asserted in pytest (PartitionFilters + partition count); the
    oracle reads the ORIGINAL fixture, so the pass also proves the
    partitioned round-trip is lossless."""
    src = _scratch(sf_dir, "orders_by_priority")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(src)
    # explicit schema: an empty write leaves nothing to infer from
    return (
        spark.read.schema(o.schema).parquet(src)
        .filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    )


# --- A16b: Python Data Source STREAMING reader --------------------------------


@query(
    "a16b_python_stream_source",
    oracle="""
    SELECT g % 10 AS bucket,
           COUNT(*) AS n,
           CAST(SUM(g) AS BIGINT) AS sum_seq
    FROM generate_series(0, 1999) AS t(g)
    GROUP BY g % 10
    """,
)
def a16b_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING half of the Python Data Source API (Spark 4
    `DataSourceStreamReader`): the same UPC worklist as an unbounded
    source — offsets are row counts, each micro-batch covers a
    contiguous seq range split into range-shard InputPartitions, so
    replay from any committed offset regenerates identical rows
    (exactly-once with idempotent sinks).  availableNow snapshots the
    latest offset and drains [0, n) split into 4 range partitions; the
    complete-mode aggregate must equal the batch generate_series twin
    exactly — proving the offset ranges tile the stream with no gap or
    overlap."""
    from ..sources.python_ds import UpcWorklistDataSource
    from ..streaming.sources import run_available_now

    try:
        spark.dataSource.register(UpcWorklistDataSource)
    except Exception:  # noqa: BLE001 — already registered in this session
        pass
    stream = (
        spark.readStream.format("upc_worklist")
        .option("n", 2000)
        .option("numPartitions", 4)
        .load()
    )
    agg = stream.groupBy((F.col("seq") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("seq").cast("bigint").alias("sum_seq"),
    )
    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    return run_available_now(agg, f"a16b_stream_{tag}", sf_dir)


# --- ETL7: data-quality expectation suite (single-pass audit report) ----------


@query(
    "etl7_dq_expectations",
    oracle="""
    WITH li AS (
      SELECT 'lineitem.quantity_in_range' AS expectation,
             COUNT(*) AS n_checked,
             COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
               AS n_violations
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.shipdate_not_null',
             COUNT(*),
             COUNT(*) FILTER (WHERE l_shipdate IS NULL)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.discount_domain',
             COUNT(*),
             COUNT(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 0.1)
      FROM lineitem
    ),
    ord AS (
      SELECT 'orders.custkey_ref_integrity' AS expectation,
             COUNT(*) AS n_checked,
             COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS n_violations
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'orders.orderkey_unique',
             COUNT(*),
             COUNT(*) - COUNT(DISTINCT o_orderkey)
      FROM orders
    ),
    prt AS (
      SELECT 'part.retailprice_positive' AS expectation,
             COUNT(*) AS n_checked,
             COUNT(*) FILTER (WHERE p_retailprice <= 0) AS n_violations
      FROM part
    )
    SELECT expectation, n_checked, n_violations,
           n_violations = 0 AS ok
    FROM (SELECT * FROM li UNION ALL SELECT * FROM ord
          UNION ALL SELECT * FROM prt)
    """,
)
def etl7_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-Expectations-style data-quality audit: range, null,
    domain, referential-integrity, and uniqueness expectations across
    three tables, emitted as one (expectation, checked, violations, ok)
    report — the validation gate an ETL pipeline runs before promoting
    a load (pairs with b11's row-level quarantine, which ROUTES bad
    rows; this op MEASURES table health).

    Scale shape: each table contributes ONE scan with conditional
    aggregates (all three lineitem expectations fold into a single
    partial-agg pass — no per-expectation rescans), unpivoted to long
    format via a metadata-size stack; referential integrity is a
    broadcast-able LEFT JOIN + null count, and uniqueness is
    count-minus-distinct on the key.  Report is O(#expectations) rows.
    """
    li = (
        load(spark, sf_dir, "lineitem")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(
                F.when(
                    (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50), 1
                )
            ).alias("v_range"),
            F.count(F.when(F.col("l_shipdate").isNull(), 1)).alias("v_null"),
            F.count(
                F.when(
                    (F.col("l_discount") < 0.0) | (F.col("l_discount") > 0.1),
                    1,
                )
            ).alias("v_disc"),
        )
        .select(
            F.expr(
                "stack(3,"
                " 'lineitem.quantity_in_range', n, v_range,"
                " 'lineitem.shipdate_not_null', n, v_null,"
                " 'lineitem.discount_domain', n, v_disc)"
            ).alias("expectation", "n_checked", "n_violations")
        )
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer").select("c_custkey")
    ref = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("c_custkey").isNull(), 1)).alias("v"),
        )
        .select(
            F.lit("orders.custkey_ref_integrity").alias("expectation"),
            F.col("n").alias("n_checked"),
            F.col("v").alias("n_violations"),
        )
    )
    uniq = o.agg(
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "n_violations"
        ),
    ).select(
        F.lit("orders.orderkey_unique").alias("expectation"),
        "n_checked",
        "n_violations",
    )
    prt = load(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("n_checked"),
        F.count(F.when(F.col("p_retailprice") <= 0, 1)).alias("n_violations"),
    ).select(
        F.lit("part.retailprice_positive").alias("expectation"),
        "n_checked",
        "n_violations",
    )
    return (
        li.unionByName(ref)
        .unionByName(uniq)
        .unionByName(prt)
        .withColumn("ok", F.col("n_violations") == 0)
    )


# --- ETL8: snapshot diff / reconciliation report ------------------------------


@query(
    "etl8_snapshot_diff",
    oracle="""
    WITH snap_a AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 97 <> 3
    ),
    snap_b AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 31 = 0
                  THEN (cents * 11 + 5) // 10
                  ELSE cents END AS cents
      FROM (SELECT o_orderkey, o_orderstatus,
                   CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders WHERE o_orderkey % 89 <> 7)
    )
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type,
           a.cents / 100.0 AS old_price,
           b.cents / 100.0 AS new_price
    FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
    WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
       OR a.cents <> b.cents
       OR a.o_orderstatus <> b.o_orderstatus
    """,
)
def etl8_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: diff two versions of a table into an
    added/removed/changed report — the audit primitive behind
    Delta-style time travel diffs and migration cutover checks (pairs
    with etl6, which APPLIES a changefeed; this op RECOVERS one from
    two states).

    Both snapshots are derived deterministically from the fixture
    (modular drop/mutate rules), so either engine replays the same two
    states.  The +10%% mutation runs in integer CENTS with explicit
    half-up integer division — ``ROUND(price * 1.1, 2)`` on doubles
    straddled a half-cent boundary differently per engine at sf0.1
    (round-6 parity sweep: 155236.455 → .45 vs .46); both engines agree
    bit-for-bit on integer math and on cents/100.0.  Shape: ONE
    full-outer hash join on the key, change classification map-side,
    unchanged rows filtered before output — at 100 TB this is the
    canonical sort-merge/shuffle-hash join on the primary key with AQE
    picking the strategy; no data-scale state beyond the join.
    """
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    snap_a = o.filter(F.col("o_orderkey") % 97 != 3)
    snap_b = o.filter(F.col("o_orderkey") % 89 != 7).withColumn(
        "cents",
        F.when(
            F.col("o_orderkey") % 31 == 0,
            F.expr("(cents * 11 + 5) div 10"),
        ).otherwise(F.col("cents")),
    )
    a = snap_a.select(
        F.col("o_orderkey").alias("ak"),
        F.col("o_orderstatus").alias("a_status"),
        F.col("cents").alias("a_cents"),
    )
    b = snap_b.select(
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderstatus").alias("b_status"),
        F.col("cents").alias("b_cents"),
    )
    j = a.join(b, a.ak == b.bk, "full_outer")
    return (
        j.filter(
            F.col("ak").isNull()
            | F.col("bk").isNull()
            | (F.col("a_cents") != F.col("b_cents"))
            | (F.col("a_status") != F.col("b_status"))
        )
        .select(
            F.coalesce("ak", "bk").alias("o_orderkey"),
            F.when(F.col("ak").isNull(), F.lit("added"))
            .when(F.col("bk").isNull(), F.lit("removed"))
            .otherwise(F.lit("changed"))
            .alias("change_type"),
            (F.col("a_cents") / 100.0).alias("old_price"),
            (F.col("b_cents") / 100.0).alias("new_price"),
        )
    )


# --- A19: malformed-CSV handling (PERMISSIVE corrupt-record routing) ----------


@query(
    "a19_csv_malformed",
    oracle="""
    SELECT o_orderkey AS k,
           o_orderstatus AS status,
           CASE WHEN o_orderkey % 3 = 0
                THEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                ELSE NULL END AS price_cents,
           o_orderkey % 3 <> 0 AS is_corrupt
    FROM orders
    WHERE o_orderkey % 7 = 0
    """,
)
def a19_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance of the CSV source: PERMISSIVE mode
    routes unparsable-type rows and arity-mismatch rows into the
    `columnNameOfCorruptRecord` side channel WITHOUT failing the job
    (the DROPMALFORMED/FAILFAST alternatives are a one-option change),
    while still salvaging the fields that DO parse — measured: Spark
    keeps parseable leading fields of a corrupt row.

    The fixture CSV is synthesized with three deterministic row shapes
    (clean / bad-type / short-arity, keyed on o_orderkey mod 3) and
    integer-cents prices so no float round-trips through text.  Scale:
    a text write + schema-pinned read, both map-only; corrupt routing
    happens in the parser — no extra pass, no driver involvement.
    """
    path = _scratch(sf_dir, "orders_malformed_csv")
    src = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == 0)
    # NULL fields serialize as EMPTY CSV fields (fuzz sweep):
    # format_string renders a NULL argument as the literal text 'null',
    # which reads back as the string 'null' (status) or as a corrupt
    # row (price) — an empty field round-trips to NULL via the
    # reader's default nullValue.
    status_txt = F.coalesce(F.col("o_orderstatus"), F.lit(""))
    cents_txt = F.coalesce(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
        F.lit(""),
    )
    line = (
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.format_string(
                "%d,%s,%s", F.col("o_orderkey"), status_txt, cents_txt
            ),
        )
        .when(
            F.col("o_orderkey") % 3 == 1,
            F.format_string(
                "%d,%s,notanumber", F.col("o_orderkey"), status_txt
            ),
        )
        .otherwise(
            F.format_string("%d,%s", F.col("o_orderkey"), status_txt)
        )
    )
    src.select(line.alias("value")).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema(
            "k bigint, status string, price_cents bigint, _corrupt string"
        )
        .option("columnNameOfCorruptRecord", "_corrupt")
        .option("mode", "PERMISSIVE")
        .csv(path)
    )
    return parsed.select(
        "k",
        "status",
        "price_cents",
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
    )


# --- A20: compressed JSON-lines round-trip (codec handling at the edge) -------


@query(
    "a20_compressed_json",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey % 4 = 1
    """,
)
def a20_compressed_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-ingest handling: gzip JSON-lines written and read
    back transparently by codec inference from the file extension —
    the wire format of most API-dump / log-shipper feeds.  The
    lossless round-trip against the ORIGINAL table is the oracle (a2's
    proof pattern).

    Scale note: gzip is NOT splittable — one .json.gz file = one task,
    the classic ingest bottleneck; production keeps many ~100 MB
    objects (or zstd/bzip2) so file-level parallelism replaces
    block-level splitting.  This entry writes one file per input
    partition, which is exactly that layout.
    """
    path = _scratch(sf_dir, "orders_json_gz")
    (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 4 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .option("compression", "gzip")
        .json(path)
    )
    return spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(path)


# --- ETL9: late-arriving dimension with inferred-member backfill --------------
# The Kimball pattern: facts arrive referencing dimension keys the dim
# feed has not delivered yet.  The load must (a) never drop or stall
# the fact, (b) insert an "inferred member" placeholder row, (c) later
# overwrite the placeholder in place when the real dimension row lands,
# keeping an audit trail of which rows were ever inferred.


@query(
    "etl9_late_dim_backfill",
    oracle="""
    WITH ontime AS (
      SELECT * FROM customer WHERE c_custkey % 7 <> 0
    ),
    late AS (
      SELECT * FROM customer WHERE c_custkey % 7 = 0
    ),
    fact_keys AS (
      SELECT DISTINCT o_custkey AS custkey FROM orders
    ),
    phase1 AS (
      SELECT f.custkey,
             COALESCE(o.c_name, 'UNKNOWN') AS c_name,
             COALESCE(o.c_nationkey, -1) AS c_nationkey,
             o.c_name IS NULL AS was_inferred
      FROM fact_keys f LEFT JOIN ontime o ON f.custkey = o.c_custkey
    )
    SELECT p.custkey,
           COALESCE(l.c_name, p.c_name) AS c_name,
           COALESCE(l.c_nationkey, p.c_nationkey) AS c_nationkey,
           p.was_inferred,
           p.was_inferred AND l.c_name IS NOT NULL AS backfilled
    FROM phase1 p LEFT JOIN late l ON p.custkey = l.c_custkey
    """,
)
def etl9_late_dim_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling (Kimball inferred members): the
    customer feed is split into an on-time batch (6/7 of keys) and a
    late batch; phase 1 loads every fact-referenced key, substituting
    an UNKNOWN placeholder where the dim row is missing; phase 2
    applies the late batch, overwriting placeholders and flagging the
    rows that were backfilled.

    Plan: fact-key distinct (one keyed shuffle) + two LEFT hash joins
    against dimension-sized sides — at 100 TB the fact distinct is the
    only data-scale exchange; both dim joins broadcast when the dim
    fits (AQE decides), and the placeholder/backfill logic is pure
    map-side COALESCE/flag algebra.  The audit columns (was_inferred,
    backfilled) are what makes the load idempotent and re-runnable —
    the same contract the reference's upsert loop enforces via
    primary-key merge.
    """
    cust = load(spark, sf_dir, "customer")
    ontime = cust.filter(F.col("c_custkey") % 7 != 0)
    late = cust.filter(F.col("c_custkey") % 7 == 0)
    fact_keys = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    phase1 = fact_keys.join(
        ontime, fact_keys.custkey == ontime.c_custkey, "left"
    ).select(
        "custkey",
        F.coalesce("c_name", F.lit("UNKNOWN")).alias("c_name"),
        F.coalesce("c_nationkey", F.lit(-1)).alias("c_nationkey"),
        F.col("c_name").isNull().alias("was_inferred"),
    )
    l2 = late.select(
        F.col("c_custkey").alias("l_key"),
        F.col("c_name").alias("l_name"),
        F.col("c_nationkey").alias("l_nationkey"),
    )
    return phase1.join(
        l2, phase1.custkey == l2.l_key, "left"
    ).select(
        "custkey",
        F.coalesce("l_name", "c_name").alias("c_name"),
        F.coalesce("l_nationkey", "c_nationkey").alias("c_nationkey"),
        "was_inferred",
        (F.col("was_inferred") & F.col("l_name").isNotNull()).alias(
            "backfilled"
        ),
    )


# --- A21: parquet write with column bloom filters + point-lookup read ---------


_A21_KEYS = (1, 2, 3, 5, 8, 13, 21, 34)


@query(
    "a21_parquet_bloom_write",
    oracle=f"""
    SELECT l_partkey,
           COUNT(*) AS n_lines,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    WHERE l_partkey IN {_A21_KEYS}
    GROUP BY l_partkey
    """,
)
def a21_parquet_bloom_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with a COLUMN BLOOM FILTER on the point-lookup key
    (`parquet.bloom.filter.enabled#l_partkey`), then an IN-list read
    back through it.

    Why this matters at 100 TB: min/max row-group statistics are
    useless for a high-cardinality key that is uniformly scattered
    (every row group spans nearly the full key range), so a point
    lookup otherwise scans everything.  The bloom filter gives each
    row group a probabilistic membership test — the reader skips
    groups whose filter rejects the key, turning an IN-probe into
    IO proportional to the matching groups only.  The write also
    sorts within partitions by the key so row groups cover narrow
    key ranges (making BOTH stats- and bloom-skipping effective).

    Correctness contract: the round-trip must be value-identical to
    filtering the source directly (bloom filters may only skip, never
    alter results) — the oracle runs the same IN + agg on the raw
    table.
    """
    path = _scratch(sf_dir, "lineitem_bloom")
    shutil.rmtree(path, ignore_errors=True)
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .sortWithinPartitions("l_partkey")
        .write.option("parquet.bloom.filter.enabled#l_partkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_partkey", "20000")
        .option("parquet.block.size", str(1 << 20))
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .filter(F.col("l_partkey").isin(*_A21_KEYS))
        .groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("l_quantity").alias("sum_qty"),
        )
    )


# --- A22: managed catalog table (saveAsTable / INSERT INTO / spark.table) -----


@query(
    "a22_managed_table",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS sum_qty_dec
    FROM lineitem
    WHERE l_returnflag IN ('R', 'A')
    GROUP BY l_returnflag
    """,
)
def a22_managed_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Managed CATALOG table lifecycle — the metastore-backed surface
    next to the path-based reads every other A-op uses: CREATE
    DATABASE, `saveAsTable` (managed parquet, partitioned), `INSERT
    INTO … SELECT` appending a second slice through the catalog, then
    a `spark.table` read back.

    Why it matters at scale: catalog tables carry schema + partition
    metadata in the metastore, so readers resolve partitions without
    listing the filesystem (the 100 TB directory-listing tax), INSERT
    INTO routes through the same partition layout, and dropping the
    table reclaims the data (managed semantics).  DROP TABLE IF EXISTS
    up front makes the whole op idempotent — reruns can't double-append.

    The value contract: catalog round-trip ≡ filtering the source
    directly (decimal-exact sums).
    """
    tag = (Path(sf_dir).name or "sf").replace(".", "_")
    db, tbl = "engine_cat", f"engine_cat.lineitem_rf_{tag}"
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    # the default in-memory catalog forgets tables between sessions while
    # their warehouse directories persist — clear the location too, or a
    # rerun in a fresh session hits LOCATION_ALREADY_EXISTS
    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    shutil.rmtree(
        Path(wh) / f"{db}.db" / f"lineitem_rf_{tag}", ignore_errors=True
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    (
        li.filter(F.col("l_returnflag") == "R")
        .write.format("parquet")
        .partitionBy("l_returnflag")
        .saveAsTable(tbl)
    )
    li.filter(F.col("l_returnflag") == "A").createOrReplaceTempView(
        f"a22_src_{tag}"
    )
    spark.sql(
        f"INSERT INTO {tbl} "
        f"SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag "
        f"FROM a22_src_{tag}"
    )
    return (
        spark.table(tbl)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_qty_dec"),
        )
    )


# --- A23: recursive + glob-filtered directory scan ----------------------------


@query(
    "a23_glob_recursive_read",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_returnflag IN ('R', 'N')
    GROUP BY l_returnflag
    """,
)
def a23_glob_recursive_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-tree ingestion with `recursiveFileLookup` +
    `pathGlobFilter`: the landing-zone layout real pipelines inherit —
    data files scattered across nested subdirectories that are NOT
    hive partitions, with sidecar junk (_SUCCESS markers, manifests,
    logs) interleaved.

    The write stage builds exactly that: two nested non-hive subdirs
    (`batch=.../region=...`) plus a planted `manifest.json` sidecar.
    The read must (a) descend recursively since the layout carries no
    partition semantics, and (b) glob-select `*.parquet` so the
    sidecar never reaches the reader — at 100 TB sidecar-tolerant
    globbing is the difference between a working load and a daily
    schema-inference crash.  Value contract: tree scan ≡ filtering
    the flat source.
    """
    base = Path(_scratch(sf_dir, "lineitem_tree"))
    shutil.rmtree(base, ignore_errors=True)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_returnflag"
    )
    for flag, sub in (("R", "batch=1/region=east"), ("N", "batch=2/region=west")):
        (
            li.filter(F.col("l_returnflag") == flag)
            .write.mode("overwrite")
            .parquet(str(base / sub))
        )
    (base / "batch=1" / "manifest.json").write_text(
        '{"files": "not-data", "note": "sidecar must be ignored"}'
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(str(base))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# --- ETL10: lambda-architecture merge (batch layer + speed layer) -------------


@query(
    "etl10_lambda_merge",
    oracle="""
    WITH bounds AS (
      SELECT CAST(date_trunc('day', MAX(ts)) AS DATE) - 2 AS cutoff
      FROM events
    ),
    batch AS (
      SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
             COUNT(*) AS n_events,
             """ + fsum_sql("e.value", "total") + """,
             'batch' AS layer
      FROM events e, bounds b
      WHERE CAST(date_trunc('day', e.ts) AS DATE) < b.cutoff
      GROUP BY 1
    ),
    speed AS (
      SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
             COUNT(*) AS n_events,
             """ + fsum_sql("e.value", "total") + """,
             'speed' AS layer
      FROM events e, bounds b
      WHERE CAST(date_trunc('day', e.ts) AS DATE) >= b.cutoff
      GROUP BY 1
    )
    SELECT * FROM batch
    UNION ALL
    SELECT * FROM speed
    """,
)
def etl10_lambda_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda-architecture serving merge: the precomputed BATCH layer
    (days strictly before the cutoff — in production, a nightly
    parquet/OLAP rollup) unioned with the SPEED layer (the hot tail
    after the cutoff, aggregated on demand — in production, the
    streaming state store), each row tagged with its provenance so a
    serving query can tell recomputed history from live estimates.

    The cutoff derives from the data (max day − 2), so the op replays
    identically on any fixture generation.  Both layers are one keyed
    day-agg each over DISJOINT predicate-pushed slices of the scan —
    the union never double-counts (pytest-pinned), and at 100 TB the
    batch slice is the only full-history pass while the speed slice
    reads two days.
    """
    ev = load(spark, sf_dir, "events")
    cutoff = F.date_sub(
        F.expr("CAST(date_trunc('day', max_ts) AS DATE)"), 2
    )
    bounds = ev.agg(F.max("ts").alias("max_ts")).select(
        cutoff.alias("cutoff")
    )
    day = F.expr("CAST(date_trunc('day', ts) AS DATE)").alias("day")
    tagged = ev.select(day, "value").crossJoin(F.broadcast(bounds))

    def layer(df: DataFrame, name: str) -> DataFrame:
        return df.groupBy("day").agg(
            F.count(F.lit(1)).alias("n_events"),
            fsum("value", "total"),
        ).withColumn("layer", F.lit(name))

    batch = layer(tagged.filter(F.col("day") < F.col("cutoff")), "batch")
    speed = layer(tagged.filter(F.col("day") >= F.col("cutoff")), "speed")
    return batch.unionByName(speed)


# --- ETL11: write-audit-publish (WAP) -----------------------------------------


@query(
    "etl11_write_audit_publish",
    oracle="""
    WITH good AS (
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ),
    bad AS (
      SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_orderkey END
               AS o_orderkey,
             o_custkey,
             CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
                  ELSE o_totalprice END AS o_totalprice
      FROM orders
    ),
    audits AS (
      SELECT 1 AS batch_id,
             (SELECT COUNT(*) FROM good) AS n_rows,
             (SELECT COUNT(*) FROM good WHERE o_orderkey IS NULL) AS n_null_keys,
             (SELECT COUNT(*) FROM good WHERE o_totalprice <= 0) AS n_nonpositive
      UNION ALL
      SELECT 2,
             (SELECT COUNT(*) FROM bad),
             (SELECT COUNT(*) FROM bad WHERE o_orderkey IS NULL),
             (SELECT COUNT(*) FROM bad WHERE o_totalprice <= 0)
    )
    SELECT batch_id, n_rows, n_null_keys, n_nonpositive,
           (n_rows > 0 AND n_null_keys = 0 AND n_nonpositive = 0) AS published,
           (SELECT COUNT(*) FROM good) AS live_rows_after
    FROM audits
    """,
)
def etl11_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish: every batch is staged to a quarantine path,
    a data-quality audit runs AGAINST THE STAGED FILES, and only a
    passing batch is atomically promoted (directory rename) to the
    live path readers query — the lakehouse pattern that keeps bad
    loads invisible (Netflix's WAP / Iceberg's stage-commit idiom,
    here on plain parquet paths).

    Two batches exercise both arms: batch 1 (clean orders) audits
    green and publishes; batch 2 (a corrupted restatement: every 100th
    key nulled, every 97th price negated) audits red, is NOT
    published, and the live path provably still serves batch 1
    (`live_rows_after` re-reads the live directory after each batch).

    Scale: the audit aggregates run distributed over the staged files
    (one pass, pushed predicates); promotion is a driver-side O(1)
    metadata rename — no data rewrite.  On object stores the rename
    becomes a metastore pointer swap (Iceberg/Delta commit), same
    contract."""
    import os

    base = _scratch(sf_dir, "wap")
    shutil.rmtree(base, ignore_errors=True)
    live = f"{base}/live"
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    batches = {
        1: o,
        2: o.select(
            F.when(F.col("o_orderkey") % 100 == 0, None)
            .otherwise(F.col("o_orderkey"))
            .alias("o_orderkey"),
            "o_custkey",
            F.when(F.col("o_orderkey") % 97 == 0, -F.col("o_totalprice"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        ),
    }
    ledger = []
    for batch_id, df in batches.items():
        staging = f"{base}/staging_b{batch_id}"
        df.write.mode("overwrite").parquet(staging)
        # explicit schema: an empty staged write has no files to infer from
        staged = spark.read.schema(df.schema).parquet(staging)
        audit = staged.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_null_keys"),
            F.count(F.when(F.col("o_totalprice") <= 0, 1)).alias("n_nonpositive"),
        ).first()
        ok = (
            audit["n_rows"] > 0
            and audit["n_null_keys"] == 0
            and audit["n_nonpositive"] == 0
        )
        if ok:
            # atomic publish: swap the staged directory into the live path
            if os.path.exists(live):
                shutil.rmtree(f"{base}/retired", ignore_errors=True)
                os.rename(live, f"{base}/retired")
            os.rename(staging, live)
        # an empty corpus never audits green, so no batch ever publishes:
        # the live table does not exist and serves zero rows
        live_rows = (
            spark.read.parquet(live).count() if os.path.exists(live) else 0
        )
        ledger.append(
            (
                batch_id,
                audit["n_rows"],
                audit["n_null_keys"],
                audit["n_nonpositive"],
                ok,
                live_rows,
            )
        )
    return spark.createDataFrame(
        ledger,
        "batch_id int, n_rows bigint, n_null_keys bigint, "
        "n_nonpositive bigint, published boolean, live_rows_after bigint",
    )


# --- A24: fixed-width text source ---------------------------------------------

# Layout (mainframe-style copybook): columns at fixed byte offsets.
# key field is 20 wide: int64 keys reach 19 digits (snowflake regime,
# fuzz sweep seed 7) and an 8-wide field silently TRUNCATED them on the
# round-trip — copybook layouts must be sized for the key domain
_FW_KEY_W, _FW_NAME_W, _FW_BAL_W = 20, 20, 12


@query(
    "a24_fixed_width_source",
    oracle=f"""
    SELECT s_suppkey,
           -- COALESCE: a copybook field has no NULL — a NULL name
           -- serializes as blanks and reads back empty (--nulls sweep)
           TRIM(SUBSTRING(COALESCE(s_name, ''), 1, {_FW_NAME_W})) AS s_name,
           CAST(CAST(ROUND(s_acctbal * 100, 0) AS BIGINT) AS DOUBLE) / 100.0
             AS s_acctbal_2dp
    FROM supplier
    """,
)
def a24_fixed_width_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source — the mainframe/copybook feed format
    (no delimiters; fields live at byte offsets).  Spark has no native
    fixed-width reader; the idiomatic plan is ``spark.read.text`` (one
    string column, splittable files) + ``substring``/``trim``/casts —
    all JVM-side Catalyst expressions, so the parse is whole-stage
    codegenned and the text scan stays trivially splittable at 100 TB
    (unlike a Python row parser, which would bottleneck the ingest).

    Round-trip proof: supplier rows are serialized to a fixed-width
    file (key zero-padded to {_FW_KEY_W}, name space-padded/truncated
    to {_FW_NAME_W}, balance as zero-padded integer cents to
    {_FW_BAL_W}), read back via the substring plan, and hash-checked
    against the original fixture — truncation semantics mirrored in
    the oracle."""
    path = _scratch(sf_dir, "supplier_fixedwidth.txt")
    s = load(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    # explicit ROUND before the integer cast: Spark's double→bigint cast
    # truncates while DuckDB's rounds, so the rounding must be shared
    cents = F.round(F.col("s_acctbal") * 100, 0).cast("bigint")
    # Copybook files have no NULL (--nulls sweep): a NULL name is a
    # blank (reads back empty — documented lossy); a NULL balance is a
    # blank sign + blank magnitude that try_cast reads back as NULL.
    line = F.concat(
        F.lpad(F.col("s_suppkey").cast("string"), _FW_KEY_W, "0"),
        F.rpad(
            F.substring(F.coalesce(F.col("s_name"), F.lit("")), 1, _FW_NAME_W),
            _FW_NAME_W,
            " ",
        ),
        # copybook-style leading sign byte + zero-padded magnitude
        F.when(cents < 0, F.lit("-"))
        .when(cents.isNotNull(), F.lit("+"))
        .otherwise(F.lit(" ")),
        F.coalesce(
            F.lpad(F.abs(cents).cast("string"), _FW_BAL_W - 1, "0"),
            F.lit(" " * (_FW_BAL_W - 1)),
        ),
    )
    shutil.rmtree(path, ignore_errors=True)
    s.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(path)
    raw = spark.read.text(path)
    k0, n0 = 1, _FW_KEY_W + 1
    b0 = _FW_KEY_W + _FW_NAME_W + 1
    sign = F.when(
        F.substring("value", b0, 1) == "-", F.lit(-1).cast("bigint")
    ).otherwise(F.lit(1).cast("bigint"))
    # try_cast: the blank (NULL-balance) magnitude field is not a
    # number — it reads back as NULL, not as an ANSI cast crash
    mag = F.expr(
        f"try_cast(substring(value, {b0 + 1}, {_FW_BAL_W - 1}) AS bigint)"
    )
    return raw.select(
        F.substring("value", k0, _FW_KEY_W).cast("bigint").alias("s_suppkey"),
        F.trim(F.substring("value", n0, _FW_NAME_W)).alias("s_name"),
        ((sign * mag).cast("double") / 100.0).alias("s_acctbal_2dp"),
    )


# --- A25: partitioned (parallel) JDBC read ------------------------------------


@query(
    "a25_jdbc_partitioned_read",
    oracle="""
    SELECT (o_orderkey % 8) AS read_stripe,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
             AS stripe_total
    FROM orders
    GROUP BY read_stripe
    """,
)
def a25_jdbc_partitioned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITIONED JDBC ingest — the parallel bulk-extract path: Spark
    splits the source table into ``numPartitions`` stripes on
    ``partitionColumn`` bounds and opens one concurrent connection per
    stripe (each issues its own bounded WHERE-range query).  This —
    not the single-connection default — is how a relational source
    feeds a 1000-executor cluster without serializing the extract
    through one cursor.

    Exercised for real against embedded Derby: orders loaded once, then
    read back with ``partitionColumn=o_orderkey, numPartitions=8``; the
    plan is asserted to carry 8 input partitions (one per stripe), and
    the per-stripe aggregate proves the stripes tile the keyspace
    exactly (no row lost or double-read at the bounds).  Decimal-exact
    sums make the proof order-independent."""
    db = _scratch_pid_db(sf_dir, "derby_a25_db")
    url = f"jdbc:derby:{db};create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    src = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    n_src = int(src.count())  # parquet metadata lookup, not a scan

    # IDEMPOTENT fixture load: the Derby table is a pure function of
    # (sf_dir, orders), so if it already holds exactly n_src rows the
    # single-process embedded-Derby REBUILD is skipped.  This keeps
    # repeated invocations (scale-sweep reps, pytest) timing the
    # operator under test — the partitioned READ — instead of the
    # fixture write, which at the 10× replica dominated the sweep row
    # 20.5:1 (r9 verdict: "split a25's sweep timing").  A partial load
    # from a crashed writer can't match the full count, so it rebuilds.
    def _loaded_rows() -> int:
        try:
            return int(
                spark.read.format("jdbc")
                .option("url", url)
                .option("query", "SELECT COUNT(*) AS N FROM ORDERS_LOAD")
                .options(**props)
                .load()
                .first()["N"]
            )
        except Exception:  # noqa: BLE001 — table absent on first build
            return -1

    if _loaded_rows() != n_src:
        # Adaptive insert parallelism: embedded Derby's per-connection
        # insert throughput (~16k rows/s) floors the fixture load at
        # scale and scales with writers (10× replica, 1.5M rows: 2
        # conns 47 s → 8 conns 26 s; 16/32 no better), but extra
        # connections are pure overhead on small loads (sf0.1, 150k
        # rows: 8 conns 4.7 s vs 2 conns 2.1 s) — so one writer per
        # ~200k rows, clamped to [2, 8].
        n_writers = max(2, min(8, n_src // 200_000 + 1))
        src.coalesce(n_writers).write.mode("overwrite").format("jdbc").option(
            "url", url
        ).option("dbtable", "ORDERS_LOAD").options(**props).save()
    bounds = src.agg(
        F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi")
    ).first()
    if bounds["lo"] is None:  # empty source: nothing to stripe-read
        return spark.createDataFrame(
            [], "read_stripe bigint, n_orders bigint, stripe_total double"
        )
    back = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "ORDERS_LOAD")
        .option("partitionColumn", "o_orderkey")
        .option("lowerBound", str(bounds["lo"]))
        .option("upperBound", str(bounds["hi"] + 1))
        .option("numPartitions", "8")
        .options(**props)
        .load()
    )
    # Spark collapses JDBC stripes when the key width is narrower than
    # numPartitions (upperBound - lowerBound < 8 → one stripe per key),
    # so the parallelism invariant is min(8, keyspace width) — on the
    # real fixtures that is always 8 (degenerate-sweep finding, r8)
    expected = min(8, int(bounds["hi"]) + 1 - int(bounds["lo"]))
    if back.rdd.getNumPartitions() != expected:
        raise RuntimeError(
            f"expected {expected} JDBC stripes, got {back.rdd.getNumPartitions()}"
        )
    return (
        back.select(
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .groupBy((F.col("o_orderkey") % 8).alias("read_stripe"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,6)"))
            .cast("double")
            .alias("stripe_total"),
        )
    )


# --- A26: multiline CSV (quoted embedded newlines / delimiters) ---------------


@query(
    "a26_csv_multiline",
    oracle="""
    SELECT doc_id,
           replace(substring(text, 1, 60), ' ', chr(10)) AS excerpt,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 10 = 0
    """,
)
def a26_csv_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiline CSV round-trip: fields containing EMBEDDED NEWLINES,
    commas and quotes — the export format of every spreadsheet / CRM
    dump, and the classic silent-corruption source (a naive
    line-splitting reader shreds each quoted record into garbage rows).
    ``multiLine=true`` makes Spark parse quoted newlines correctly; the
    cost is that multiline CSV files are NOT line-splittable, so at
    100 TB the layout answer is many moderate files (one per partition
    written here) rather than one giant file — same parallelism story
    as a20's gzip.

    The excerpt column is deliberately adversarial: spaces replaced by
    real newlines, so every field crosses lines; quoting/escaping is
    exercised end-to-end (quote-in-field doubling included via the text
    content).  The oracle reconstructs the same derivation from the
    ORIGINAL fixture — a value-hash match proves the round-trip is
    byte-lossless."""
    path = _scratch(sf_dir, "docs_multiline_csv")
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0)
    staged = d.select(
        "doc_id",
        F.regexp_replace(F.substring("text", 1, 60), " ", "\n").alias("excerpt"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    shutil.rmtree(path, ignore_errors=True)
    # the CSV WRITER trims leading/trailing whitespace by default —
    # disable both so fields ending in whitespace/newlines survive
    # explicit NULL sentinel on BOTH hops (fuzz sweep, seed 42): with
    # the default nullValue "" the reader maps an EMPTY quoted field to
    # NULL, silently conflating the empty document with the missing one
    staged.write.mode("overwrite").option("header", True).option(
        "quoteAll", True
    ).option("ignoreLeadingWhiteSpace", False).option(
        "ignoreTrailingWhiteSpace", False
    ).option("nullValue", "\\N").csv(path)
    return (
        spark.read.schema("doc_id bigint, excerpt string, n_chars bigint")
        .option("header", True)
        .option("multiLine", True)
        .option("nullValue", "\\N")
        .option("emptyValue", "")
        .csv(path)
    )


# --- I19: transactional foreachBatch sink (batch-id commit ledger) ------------


@query(
    "i19_stream_txn_sink",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_distinct
    FROM events
    GROUP BY event_type
    """,
)
def i19_stream_txn_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once for NON-KEYED append sinks: a batch-id COMMIT
    LEDGER.  i9's recipe (idempotent upsert) needs a primary key; plain
    append tables (fact logs, object-store parts) don't have one, so
    the production pattern is a transactional ledger — each micro-batch
    appends its rows AND records its batch_id in one ACID transaction;
    a replayed batch (Spark tasks are at-least-once) finds its id
    already committed and SKIPS.  Demonstrated for real: after the
    availableNow run, every batch is maliciously re-delivered
    (simulating post-failure replay) and the ledger rejects all of
    them — the final table still holds each event exactly once, which
    is precisely what the value-hash proves against the source.

    At scale the same two-table commit protocol is what Delta/Iceberg
    implement in the table metadata layer; foreachBatch + any ACID
    store gives it on plain infrastructure."""
    db_path = _scratch(sf_dir, "txn_sink.sqlite")
    Path(db_path).unlink(missing_ok=True)
    chk = _scratch(sf_dir, "i19_chk")
    shutil.rmtree(chk, ignore_errors=True)
    ddl = sqlite3.connect(db_path)
    ddl.execute("CREATE TABLE commits (batch_id INTEGER PRIMARY KEY)")
    ddl.execute("CREATE TABLE ev_log (event_id INTEGER, event_type TEXT)")
    ddl.commit()
    ddl.close()

    replayed: list[tuple[int, list[tuple[int, str]]]] = []

    def sink_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = [
            (r["event_id"], r["event_type"])
            for r in batch_df.select("event_id", "event_type").collect()
        ]
        replayed.append((batch_id, rows))
        _txn_append(db_path, batch_id, rows)

    def _txn_append(path: str, batch_id: int, rows) -> None:
        con = sqlite3.connect(path, timeout=60.0)
        try:
            con.execute("BEGIN IMMEDIATE")
            cur = con.execute(
                "INSERT OR IGNORE INTO commits (batch_id) VALUES (?)",
                (batch_id,),
            )
            if cur.rowcount == 1:  # first delivery: append inside the txn
                con.executemany(
                    "INSERT INTO ev_log (event_id, event_type) VALUES (?, ?)",
                    rows,
                )
            con.commit()  # replay: ledger hit → commit nothing
        finally:
            con.close()

    stream = read_events_stream(spark, sf_dir).select("event_id", "event_type")
    q = (
        stream.writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # adversarial replay: re-deliver EVERY batch (at-least-once world)
    for batch_id, rows in replayed:
        _txn_append(db_path, batch_id, rows)
    con = sqlite3.connect(db_path)
    final = con.execute(
        "SELECT event_type, COUNT(*), COUNT(DISTINCT event_id)"
        " FROM ev_log GROUP BY event_type"
    ).fetchall()
    con.close()
    return spark.createDataFrame(
        [(t, int(n), int(d)) for t, n, d in final],
        "event_type string, n_rows bigint, n_distinct bigint",
    )


# --- A27: whole-file text source (one record per file) ------------------------


@query(
    "a27_wholefile_text",
    oracle="""
    SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 25 = 0 AND text IS NOT NULL
    """,
)
def a27_wholefile_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file text ingestion (`option("wholetext", true)`): each
    file becomes ONE row regardless of embedded newlines — the landing
    shape of every scraped-document corpus (one .txt/.md per document)
    and the reader that makes "a million small files" queryable without
    a parse step.  The doc id travels IN THE FILE PATH (standard corpus
    layout) and is recovered with `input_file_name()` + regexp — no
    sidecar manifest needed.

    Scale note: wholetext files are intentionally NOT split (a record
    is a file), so parallelism = #files — exactly right for a corpus of
    millions of small documents, and the reason this reader beats
    concatenated text + a re-splitting parse at 100 TB.  Lossless
    round-trip proof: a sample of documents is exported one-file-each
    (text with real newlines), read back whole, and hash-checked
    against the fixture."""
    base = _scratch(sf_dir, "wholefile_docs")
    shutil.rmtree(base, ignore_errors=True)
    Path(base).mkdir(parents=True)
    # NULL-text docs export no file (a corpus has no file for a missing
    # document; fuzz sweep) — the oracle filters them identically
    sample = (
        load(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 25 == 0) & F.col("text").isNotNull())
        .withColumn("text", F.regexp_replace("text", " ", "\n"))
    )
    for r in sample.collect():  # driver-side export: test corpus layout only
        Path(f"{base}/doc_{r['doc_id']:08d}.txt").write_text(r["text"])
    raw = spark.read.text(base, wholetext=True).withColumn(
        "path", F.input_file_name()
    )
    return raw.select(
        F.regexp_extract("path", r"doc_(\d+)\.txt", 1)
        .cast("bigint")
        .alias("doc_id"),
        # reverse the export's newline encoding to prove byte-losslessness
        F.regexp_replace("value", "\n", " ").alias("text"),
        F.length(F.regexp_replace("value", "\n", " ")).cast("bigint").alias(
            "n_chars"
        ),
    )


# --- ETL12: Data Vault 2.0 load (hubs / links / satellites) -------------------


@query(
    "etl12_data_vault_load",
    oracle="""
    WITH hub_customer AS (
      SELECT DISTINCT md5('C|' || CAST(o_custkey AS VARCHAR)) AS hk
      FROM orders
    ),
    hub_part AS (
      SELECT DISTINCT md5('P|' || CAST(l_partkey AS VARCHAR)) AS hk
      FROM lineitem
    ),
    hub_supplier AS (
      SELECT DISTINCT md5('S|' || CAST(l_suppkey AS VARCHAR)) AS hk
      FROM lineitem
    ),
    link_ops AS (
      SELECT DISTINCT md5('L|' || CAST(l_orderkey AS VARCHAR) || '|'
                          || CAST(l_partkey AS VARCHAR) || '|'
                          || CAST(l_suppkey AS VARCHAR)) AS hk
      FROM lineitem
    ),
    sat_lineitem AS (
      SELECT md5('L|' || CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_partkey AS VARCHAR) || '|'
                 || CAST(l_suppkey AS VARCHAR)) AS hk,
             md5(CAST(l_quantity AS VARCHAR) || '|'
                 || CAST(l_extendedprice AS VARCHAR) || '|'
                 || l_returnflag) AS hashdiff
      FROM lineitem
    ),
    u AS (
      SELECT 'hub_customer' AS vault_table, hk FROM hub_customer
      UNION ALL SELECT 'hub_part', hk FROM hub_part
      UNION ALL SELECT 'hub_supplier', hk FROM hub_supplier
      UNION ALL SELECT 'link_order_part_supp', hk FROM link_ops
      UNION ALL SELECT 'sat_lineitem', hashdiff FROM sat_lineitem
    )
    SELECT vault_table,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT hk) AS n_distinct,
           MIN(hk) AS min_hk, MAX(hk) AS max_hk
    FROM u GROUP BY vault_table
    """,
)
def etl12_data_vault_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault 2.0 raw-vault load: business keys become md5 HUB
    hash-keys, the (order, part, supplier) unit-of-work becomes a LINK
    hash-key, and the lineitem descriptive attributes become a
    SATELLITE hashdiff (the change-detection key SCD-style sat loads
    compare on).  Emitted as a per-vault-table audit row (row count,
    distinct hash-keys, min/max key) — the load-verification query a
    vault pipeline runs after every batch.

    Why hash keys at 100 TB: hubs/links join on uniformly-distributed
    md5 keys — shuffle-balanced by construction, no skew mitigation
    needed, and satellites append-only (no update-in-place), which is
    exactly the write pattern object stores want.  Each hub/link is
    one DISTINCT (keyed shuffle with map-side partials); the union is
    computed in one pass per source table."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    link_key = F.md5(
        F.concat(
            F.lit("L|"),
            F.col("l_orderkey").cast("string"),
            F.lit("|"),
            F.col("l_partkey").cast("string"),
            F.lit("|"),
            F.col("l_suppkey").cast("string"),
        )
    )
    hashdiff = F.md5(
        F.concat(
            F.col("l_quantity").cast("string"),
            F.lit("|"),
            F.col("l_extendedprice").cast("string"),
            F.lit("|"),
            F.col("l_returnflag"),
        )
    )
    # r10 (guide §2.3/§2.4): the audit row of each vault table is ONE
    # aggregate per branch instead of DISTINCT → 5-way union → regroup
    # with countDistinct.  The old shape deduplicated every branch
    # (Exchange each), shuffled the union, and then ran a SECOND
    # distinct-aggregate expansion over rows that were already unique;
    # per branch, count/countDistinct/min/max over hk in a single agg
    # is the same answer — for the DISTINCT branches n_rows IS
    # n_distinct (COUNT(*) over SELECT DISTINCT = COUNT(DISTINCT)),
    # and min/max are distinct-insensitive.  The n_rows > 0 filter
    # reproduces GROUP BY semantics on an empty source (a global agg
    # emits one row where GROUP BY emits none — --empty sweep).
    def audit(
        name: str, hk: "F.Column", src: DataFrame, dedup: bool
    ) -> DataFrame:
        # For dedup branches n_rows is COUNT(*) over SELECT DISTINCT hk,
        # which counts a NULL group that countDistinct skips: a NULL
        # business key makes md5(concat(...NULL...)) NULL, so DISTINCT
        # keeps one NULL row the oracle counts (r10 ADVICE — latent on
        # the non-null fixture keys, and an all-NULL branch must
        # survive the n_rows > 0 filter).  max(when(isNull,1)) is 1 iff
        # any NULL exists; coalesce covers the empty source (max over
        # zero rows is NULL → 0 → filtered, as before).
        n_rows = (
            F.countDistinct("hk")
            + F.coalesce(
                F.max(F.when(F.col("hk").isNull(), 1).otherwise(0)),
                F.lit(0),
            )
            if dedup
            else F.count(F.lit(1)).cast("long")
        )
        return (
            src.select(hk.alias("hk"))
            .agg(
                n_rows.alias("n_rows"),
                F.countDistinct("hk").alias("n_distinct"),
                F.min("hk").alias("min_hk"),
                F.max("hk").alias("max_hk"),
            )
            .select(F.lit(name).alias("vault_table"), "*")
        )

    hub_key = lambda prefix, col: F.md5(  # noqa: E731
        F.concat(F.lit(prefix + "|"), F.col(col).cast("string"))
    )
    parts = [
        audit("hub_customer", hub_key("C", "o_custkey"), o, True),
        audit("hub_part", hub_key("P", "l_partkey"), li, True),
        audit("hub_supplier", hub_key("S", "l_suppkey"), li, True),
        audit("link_order_part_supp", link_key, li, True),
        audit("sat_lineitem", hashdiff, li, False),
    ]
    u = parts[0]
    for x in parts[1:]:
        u = u.unionAll(x)
    return u.filter(F.col("n_rows") > 0)


# --- A28: hidden file-metadata columns ----------------------------------------


@query(
    "a28_metadata_columns",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY file_name
    """,
)
def a28_metadata_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (`_metadata.file_name`, SPARK-37273)
    — data-lineage bookkeeping without a path-parsing UDF: every parquet
    scan can attribute each row to its source file, the hook audit /
    backfill / bad-file-quarantine jobs key on.  DuckDB's twin is
    ``read_parquet(..., filename=true)``; the oracle (which runs on the
    pre-registered view, where the option isn't reachable) states the
    fixture's known single-file basename literally, and the provenance
    claim itself — `_metadata.file_name` equals the real on-disk
    basename for every row — is pinned separately in pytest against a
    multi-file write.

    The metadata struct is populated by the scan itself (constant per
    file split — no row-level cost, no shuffle to obtain it); the
    per-file rollup is one keyed agg.  At 100 TB with thousands of
    files this exact query is the standard per-file row-count /
    checksum manifest builder, and partition pruning still applies
    because `_metadata` adds no read columns.
    """
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(
            F.col("_metadata.file_name").alias("file_name"),
            "l_orderkey",
            "l_quantity",
        )
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum(F.col("l_quantity").cast("decimal(30,6)"))
            .cast("double")
            .alias("sum_qty"),
        )
    )


# --- ETL13: referential-integrity conformance audit ---------------------------


@query(
    "etl13_fk_conformance",
    oracle="""
    SELECT 'lineitem.l_partkey->part' AS relation,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE p.p_partkey IS NULL) AS n_orphans
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier' AS relation,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE s.s_suppkey IS NULL) AS n_orphans
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'orders.o_custkey->customer' AS relation,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS n_orphans
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def etl13_fk_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit — the load-gate every warehouse runs
    before publishing a batch: count fact rows whose foreign keys have
    no matching dimension row (orphans), per relationship.  Zero
    orphans on the conformant fixtures is itself the assertion; a
    late-arriving-dimension feed (etl9) or CDC race (etl6) shows up
    here as n_orphans > 0 before it corrupts downstream joins.

    Plan: each relationship is a LEFT JOIN against a BROADCAST dim
    with a conditional count — no data-sized shuffle (the fact side
    streams through map-side against the broadcast hash table), then a
    3-row union.  At 100 TB this is the cheapest possible full-FK
    sweep: one pass per relationship, no sort, no exchange of fact
    rows.
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")

    def audit(fact, fk, dim, pk, name):
        d = dim.select(pk)
        return (
            fact.select(fk)
            .join(F.broadcast(d), fact[fk] == d[pk], "left")
            .agg(
                F.lit(name).alias("relation"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(F.col(pk).isNull(), 1)).alias("n_orphans"),
            )
            .select("relation", "n_rows", "n_orphans")
        )

    return (
        audit(li, "l_partkey", load(spark, sf_dir, "part"), "p_partkey",
              "lineitem.l_partkey->part")
        .unionByName(
            audit(li, "l_suppkey", load(spark, sf_dir, "supplier"),
                  "s_suppkey", "lineitem.l_suppkey->supplier")
        )
        .unionByName(
            audit(o, "o_custkey", load(spark, sf_dir, "customer"),
                  "c_custkey", "orders.o_custkey->customer")
        )
    )


# --- ETL14: slowly-changing dimension type 3 ------------------------------------


@query(
    "etl14_scd3_prior_value",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC)
               AS prior_type,
             COUNT(*) OVER (PARTITION BY user_id) AS n_changes
      FROM events
    )
    SELECT user_id,
           event_type AS current_type,
           prior_type,
           ROUND(value, 4) AS current_value,
           ts AS changed_at,
           n_changes
    FROM ordered
    WHERE rn = 1
    """,
)
def etl14_scd3_prior_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 3: one row per entity carrying
    the CURRENT attribute value plus the immediately-PRIOR one —
    completing the repo's SCD family (type 1 overwrite = etl3's merge,
    type 2 full history = etl_scd2_history).  Type 3 is what
    reporting marts use when only 'before vs after the latest change'
    matters and history tables are too heavy.

    Built from the same event stream: the newest record per user wins
    (rn = 1 over ts DESC, event_id DESC ties), `lead` in the same
    descending order supplies the prior value, and the change count
    rides along for auditing.  One window shuffle on user_id — the
    dimension is produced with no self-join, the 100 TB-safe shape.
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ordered = e.select(
        "user_id",
        "event_type",
        "value",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.lead("event_type").over(w).alias("prior_type"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .alias("n_changes"),
    )
    return ordered.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("event_type").alias("current_type"),
        "prior_type",
        F.round("value", 4).alias("current_value"),
        F.col("ts").alias("changed_at"),
        "n_changes",
    )


# --- ETL15: join-key skew diagnostics ------------------------------------------


@query(
    "etl15_skew_report",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey
    )
    SELECT COUNT(*) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           MAX(c) AS max_rows_per_key,
           CAST(ROUND(CAST(MAX(c) AS DOUBLE)
                      / (CAST(SUM(c) AS DOUBLE) / COUNT(*)) * 1000)
                AS BIGINT) AS skew_ratio_milli,
           CAST(quantile_cont(c, 0.5) AS DOUBLE) AS p50_rows,
           CAST(quantile_cont(c, 0.99) AS DOUBLE) AS p99_rows
    FROM per_key
    """,
)
def etl15_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for the orders→customer key — the
    report you run BEFORE picking a join strategy at 100 TB: max rows
    per key vs the mean (the skew ratio that decides between a plain
    hash join, AQE skew splitting, and c13-style salting), plus the
    p50/p99 of the per-key distribution.  A ratio near 1 means uniform
    keys; ≫10 means one hot key will straggle an entire stage.
    Integer counts → exact ratios; percentiles share the linear-
    interpolation definition.  Plan: one keyed count agg + a 1-row
    stats agg over the KEY-sized table — the diagnostic costs one
    shuffle, which is exactly what it saves when it steers the join.
    """
    per_key = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("n_rows"),
        F.max("c").alias("max_rows_per_key"),
        F.round(
            F.max("c").cast("double")
            / (F.sum("c").cast("double") / F.count(F.lit(1)))
            * 1000
        )
        .cast("bigint")
        .alias("skew_ratio_milli"),
        F.expr("percentile(c, 0.5)").cast("double").alias("p50_rows"),
        F.expr("percentile(c, 0.99)").cast("double").alias("p99_rows"),
    )

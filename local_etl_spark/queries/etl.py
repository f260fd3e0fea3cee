"""ETL-surface queries (SURVEY.md §2.4-A) — the reference-semantics
operators (R4-R13) exercised over testdata columns so the DuckDB oracle
hash-checks the exact same Column expressions the pipeline uses.
Golden-fixture coverage of the full pipeline lives in
tests/test_etl_pipeline.py; these queries prove expression parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from local_etl_spark.etl import transforms
from local_etl_spark.etl.schema_translate import parse_schema
from local_etl_spark.etl.pipeline import classify
from local_etl_spark.queries._util import dec, dsum, t
from local_etl_spark.registry import query


@query(
    "etl_flatten",
    family="etl",
    oracle="""
SELECT event_id, user_id, event_type, ts, value
FROM events
""",
)
def etl_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 envelope flatten: rows are packed into {metadata, payload}
    structs, then flattened with select('payload.*', 'metadata.*') — the
    Spark equivalent of the reference's dict merge (main.py:100-107)."""
    e = t(spark, sf_dir, "events")
    enveloped = e.select(
        F.struct(F.col("event_id"), F.col("ts")).alias("metadata"),
        F.struct(F.col("user_id"), F.col("event_type"), F.col("value")).alias("payload"),
    )
    return enveloped.select("payload.*", "metadata.*")


@query(
    "etl_split_fk",
    family="etl",
    oracle="""
SELECT user_id, event_type, value, coalesce(CAST(event_id AS VARCHAR), '') AS event_id
FROM events
""",
)
def etl_split_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R9 vertical split + FK propagation: the payload projection carries
    metadata.event_id (default '') so payload⋈metadata re-joins —
    the key the reference prepares but never joins on (main2.py:226)."""
    e = t(spark, sf_dir, "events")
    enveloped = e.select(
        F.struct(F.col("event_id"), F.col("ts")).alias("metadata"),
        F.struct(F.col("user_id"), F.col("event_type"), F.col("value")).alias("payload"),
    )
    return enveloped.select(
        "payload.*",
        F.coalesce(F.col("metadata.event_id").cast("string"), F.lit("")).alias("event_id"),
    )


@query(
    "etl_fix_job",
    family="etl",
    oracle="""
WITH j AS (
  SELECT p_partkey, CASE WHEN p_partkey % 3 = 0
                         THEN p_type || ', ' || p_brand
                         ELSE p_type END AS job
  FROM part
), s AS (
  SELECT p_partkey, job,
         concat_ws(' ',
                   regexp_replace(substr(job, strpos(job, ',') + 1), '^\\s+', ''),
                   substr(job, 1, strpos(job, ',') - 1)) AS reordered
  FROM j
)
SELECT p_partkey AS partkey, job,
       CASE WHEN contains(job, ',')
            THEN upper(substr(reordered, 1, 1)) || lower(substr(reordered, 2))
            ELSE job END AS fixed_job
FROM s
""",
)
def etl_fix_job(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R12 job reformat, as used by the pipeline (transforms.fix_job):
    'General, spec' → 'Spec general' with Python-capitalize semantics."""
    p = t(spark, sf_dir, "part")
    job = F.when(
        F.col("p_partkey") % 3 == 0,
        F.concat(F.col("p_type"), F.lit(", "), F.col("p_brand")),
    ).otherwise(F.col("p_type"))
    return p.select(
        F.col("p_partkey").alias("partkey"),
        job.alias("job"),
        transforms.fix_job(job).alias("fixed_job"),
    )


@query(
    "etl_fix_address",
    family="etl",
    oracle="""
SELECT c_custkey AS custkey,
       replace(c_name || chr(10) || c_mktsegment, chr(10), ' ') AS fixed_address
FROM customer
""",
)
def etl_fix_address(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11 newline strip (transforms.fix_address ≡ str.replace('\\n',' '))."""
    c = t(spark, sf_dir, "customer")
    addr = F.concat(F.col("c_name"), F.lit("\n"), F.col("c_mktsegment"))
    return c.select(
        F.col("c_custkey").alias("custkey"),
        transforms.fix_address(addr).alias("fixed_address"),
    )


_NAME_NORM_ORACLE = """
WITH names AS (
  SELECT p_partkey,
         CASE p_partkey % 4
           WHEN 0 THEN p_name
           WHEN 1 THEN 'Mr. ' || p_name
           WHEN 2 THEN p_name || ' PhD'
           ELSE 'Dr. ' || p_name || ' Jr.'
         END AS full_name
  FROM part
), tk AS (
  SELECT p_partkey, full_name, str_split(full_name, ' ') AS ts FROM names
)
SELECT p_partkey AS partkey, full_name,
  CASE WHEN len(ts) = 4 THEN ts[1]
       WHEN len(ts) = 3 AND ts[1] IN ('Dr.','Mr.','Mrs.','Ms.') THEN ts[1]
       ELSE '' END AS prefix,
  CASE WHEN len(ts) = 4 THEN ts[2] || ' ' || ts[3]
       WHEN len(ts) = 3 AND ts[1] IN ('Dr.','Mr.','Mrs.','Ms.') THEN ts[2] || ' ' || ts[3]
       WHEN len(ts) = 3 THEN ts[1] || ' ' || ts[2]
       ELSE full_name END AS name,
  CASE WHEN len(ts) = 4 THEN ts[4]
       WHEN len(ts) = 3 AND NOT ts[1] IN ('Dr.','Mr.','Mrs.','Ms.') THEN ts[3]
       ELSE '' END AS suffix
FROM tk
"""


@query("etl_name_norm", family="etl", oracle=_NAME_NORM_ORACLE)
def etl_name_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R13 name prefix/suffix normalization over constructed 2/3/4-token
    names covering every branch (title-prefix, suffix, both, none)."""
    p = t(spark, sf_dir, "part")
    k = F.col("p_partkey")
    full_name = (
        F.when(k % 4 == 0, F.col("p_name"))
        .when(k % 4 == 1, F.concat(F.lit("Mr. "), F.col("p_name")))
        .when(k % 4 == 2, F.concat(F.col("p_name"), F.lit(" PhD")))
        .otherwise(F.concat(F.lit("Dr. "), F.col("p_name"), F.lit(" Jr.")))
    )
    norm = transforms.name_norm(full_name)
    return p.select(
        k.alias("partkey"),
        full_name.alias("full_name"),
        norm["prefix"].alias("prefix"),
        norm["name"].alias("name"),
        norm["suffix"].alias("suffix"),
    )


@query(
    "etl_default_fill",
    family="etl",
    oracle="""
SELECT c_custkey AS custkey,
       coalesce(nullif(c_mktsegment, 'BUILDING'), '') AS segment_filled,
       coalesce(CAST(NULL AS VARCHAR), '') AS always_filled
FROM customer
""",
)
def etl_default_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7/R10 default-fill: missing values → '' with fixed column order
    (the DictWriter restval='' semantics, main.py:159)."""
    c = t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("")).alias(
            "segment_filled"
        ),
        F.coalesce(F.lit(None).cast("string"), F.lit("")).alias("always_filled"),
    )


_USERS_LIKE_SCHEMA = {
    "properties": {
        "metadata": {
            "properties": {
                "type": {"type": "string"},
                "event_at": {"type": "string"},
                "event_id": {"type": "string"},
            },
            "required": ["type", "event_at", "event_id"],
        },
        "payload": {
            "properties": {
                "id": {"type": "integer"},
                "name": {"type": "string"},
                "score": {"type": "number"},
            },
            "required": ["id", "name", "score"],
        },
    },
    "required": ["metadata", "payload"],
}

_VALIDATE_ORACLE = """
SELECT error_class, count(*) AS n FROM (
  SELECT CASE
    WHEN event_id % 13 = 0 THEN 'corrupt'
    WHEN event_id % 7 = 0 THEN 'missing_required'
    WHEN event_id % 5 = 0 THEN 'other'
    ELSE 'valid' END AS error_class
  FROM events
) GROUP BY error_class ORDER BY error_class
"""


@query("etl_validate_route", family="etl", oracle=_VALIDATE_ORACLE)
def etl_validate_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-R7 validate/classify/route: documents are synthesized from
    events rows with defects injected by key arithmetic (corrupt JSON /
    missing required field / wrong type), then classified by the real
    validity compiler. The oracle derives expected class counts from the
    same arithmetic independently — validating the classifier itself."""
    schema = parse_schema(_USERS_LIKE_SCHEMA)
    e = t(spark, sf_dir, "events")
    k = F.col("event_id")
    meta = F.concat(
        F.lit('{"type": "ev", "event_at": "t", "event_id": "'),
        k.cast("string"),
        F.lit('"}'),
    )
    payload_ok = F.concat(
        F.lit('{"id": '), k.cast("string"),
        F.lit(', "name": "'), F.col("event_type"),
        F.lit('", "score": 1}'),
    )
    payload_missing = F.concat(  # drops required "name"
        F.lit('{"id": '), k.cast("string"), F.lit(', "score": 1}')
    )
    payload_badtype = F.concat(  # id as string → type error
        F.lit('{"id": "x'), k.cast("string"),
        F.lit('", "name": "n", "score": 1}'),
    )
    raw = (
        F.when(k % 13 == 0, F.lit("{broken json"))
        .when(k % 7 == 0, F.concat(F.lit('{"metadata": '), meta, F.lit(', "payload": '), payload_missing, F.lit("}")))
        .when(k % 5 == 0, F.concat(F.lit('{"metadata": '), meta, F.lit(', "payload": '), payload_badtype, F.lit("}")))
        .otherwise(F.concat(F.lit('{"metadata": '), meta, F.lit(', "payload": '), payload_ok, F.lit("}")))
    )
    docs = e.select(F.try_parse_json(raw).alias("v"))
    # classify() binds each validity stage (leaves -> error slot ->
    # offending value -> message -> finish) in its own projection;
    # deriving error_class in ONE projection would embed a copy of the
    # message render per reference (janino's 64 KB method limit, the
    # interpreted fallback — the slow path at scale).
    classified = classify(docs, schema)
    return (
        classified.groupBy("error_class")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("error_class")
    )


@query(
    "etl_upsert",
    family="etl",
    oracle="""
    WITH changes AS (
        -- updates: +100 balance for every 10th customer
        SELECT c_custkey, c_name, c_nationkey,
               CAST(CAST(c_acctbal AS DECIMAL(18,6)) + 100 AS DOUBLE)
                   AS c_acctbal,
               c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0
        UNION ALL
        -- inserts: brand-new keys shifted past the existing range
        SELECT c_custkey + 10000000, 'NewCustomer#' || c_custkey,
               c_nationkey, c_acctbal, c_mktsegment
        FROM customer WHERE c_custkey % 97 = 0
    ),
    versioned AS (
        SELECT *, 0 AS _v FROM customer
        UNION ALL
        SELECT *, 1 AS _v FROM changes
    )
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY c_custkey ORDER BY _v DESC) AS rn
        FROM versioned
    ) WHERE rn = 1
    """,
)
def etl_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-writer-wins upsert (MERGE INTO semantics) of a change batch
    into a base table — the incremental-ETL op the reference's
    append-only model lacks.

    Implemented as union + per-key keep-latest window, NOT a full-outer
    join: one shuffle on the key, no build-side materialization, and
    unchanged rows stream through a single window operator. This is the
    idiom when the table format has no native MERGE; with an ACID
    format (Delta/Iceberg) the same change batch feeds ``MERGE INTO``
    and the engine prunes untouched files instead of rewriting — at
    100 TB pair it with partition/cluster keys so a merge touches only
    affected partitions. The change batch here is derived
    deterministically from the base so both engines see identical
    inputs.
    """
    base = t(spark, sf_dir, "customer")
    updates = base.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        (dec("c_acctbal") + 100).cast("double").alias("c_acctbal"),
        "c_mktsegment",
    )
    inserts = base.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.concat(F.lit("NewCustomer#"), F.col("c_custkey")).alias("c_name"),
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
    )
    changes = updates.unionAll(inserts)
    versioned = base.withColumn("_v", F.lit(0)).unionAll(
        changes.withColumn("_v", F.lit(1))
    )
    w = Window.partitionBy("c_custkey").orderBy(F.desc("_v"))
    return (
        versioned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


@query(
    "etl_scd2",
    family="etl",
    oracle="""
SELECT o_custkey AS custkey,
       o_orderkey AS version_key,
       CAST(o_totalprice AS DOUBLE) AS attr_totalprice,
       o_orderdate AS valid_from,
       lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS valid_to,
       lead(o_orderdate) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) IS NULL AS is_current,
       row_number() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS version_no
FROM orders
""",
)
def etl_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type-2 history build: a change log
    (orders as per-customer state changes) becomes versioned dimension
    rows with [valid_from, valid_to) intervals, an is_current flag and
    a version number — the warehouse-ETL op the reference's append-only
    CSV model lacks (its event_at column is the change timestamp it
    never exploits; cf. main2.py:226 preparing keys it never joins).
    One window sort per customer partition — a single shuffle on the
    dimension key; no self-join, no full-table rescan per version.
    Ordering (o_orderdate, o_orderkey) is unique → deterministic
    intervals."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("version_key"),
        F.col("o_totalprice").cast("double").alias("attr_totalprice"),
        F.col("o_orderdate").alias("valid_from"),
        nxt.alias("valid_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w).alias("version_no"),
    )


@query("etl_incremental", family="etl", oracle=None)
def etl_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest (exactly-once per file across runs): three
    consecutive runs over a growing one-doc-per-file corpus — initial
    batch, a delta batch, and a no-op — returning files-processed per
    run (40 / 15 / 0). The engine op is
    etl.pipeline.run_table_incremental: scan ⟕ anti-join against a
    seen-files state table, process the delta through the same
    classify→multi-sink plan as run_table, then commit the new file
    list (state commits AFTER sinks → at-least-once into append sinks).
    Fixes the reference's re-process-everything-and-double-the-output
    re-run behavior (main.py:163-193); the streaming file source +
    checkpoint (streaming/etl_stream.py) is the same semantics in
    continuous form. Rows-only: file-system state isn't
    SQL-expressible; pytest ground truth in
    tests/test_etl_pipeline.py::test_incremental_processes_only_new_files."""
    import json as _json
    import shutil
    import tempfile

    from local_etl_spark.etl.corpus import generate, write_user_schema
    from local_etl_spark.etl.pipeline import (
        PipelineConfig,
        TableConfig,
        run_table_incremental,
    )

    root = tempfile.mkdtemp(prefix="etl_incr_")
    try:
        data_dir = f"{root}/users"
        import os as _os

        _os.makedirs(data_dir)
        schema_path = write_user_schema(f"{root}/user-schema.json")
        cfg = PipelineConfig(
            tables=(
                TableConfig(
                    name="users",
                    schema_file=schema_path,
                    data_dir=data_dir,
                    schema_mismatch_dir=f"{root}/out/quarantine",
                    payload_file=f"{root}/out/users.csv",
                    metadata_file=f"{root}/out/metadata.csv",
                ),
            ),
            base_dir=f"{root}/out",
        )

        def add_files(start: int, end: int) -> None:
            for i, raw in enumerate(generate(end, seed=11)):
                if i < start:
                    continue
                try:
                    pretty = _json.dumps(_json.loads(raw), indent=2)
                except _json.JSONDecodeError:
                    pretty = raw
                with open(f"{data_dir}/ev{i:05d}.json", "w") as fh:
                    fh.write(pretty)

        counts = []
        add_files(0, 40)
        counts.append(run_table_incremental(spark, cfg, cfg.tables[0], f"{root}/state").file_count)
        add_files(40, 55)
        counts.append(run_table_incremental(spark, cfg, cfg.tables[0], f"{root}/state").file_count)
        counts.append(run_table_incremental(spark, cfg, cfg.tables[0], f"{root}/state").file_count)
        return spark.createDataFrame(
            [(i + 1, int(n)) for i, n in enumerate(counts)],
            "run_id int, files_processed int",
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


_PROFILE_COLS = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")


@query(
    "etl_profile",
    family="etl",
    oracle="""
    SELECT 'o_orderkey' AS col, count(*) AS n, count(o_orderkey) AS n_nonnull,
           count(DISTINCT o_orderkey) AS n_distinct,
           round((count(*) - count(o_orderkey)) * 1.0 / count(*), 6) AS null_frac
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*), count(o_custkey),
           count(DISTINCT o_custkey),
           round((count(*) - count(o_custkey)) * 1.0 / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT o_totalprice),
           round((count(*) - count(o_totalprice)) * 1.0 / count(*), 6)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           round((count(*) - count(o_orderstatus)) * 1.0 / count(*), 6)
    FROM orders
    """,
)
def etl_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass data-quality profile: per-column row count, non-null
    count, exact distinct count, null fraction — the DQ report every
    ingestion gate runs before accepting a batch.

    ONE scan computes every column's stats as parallel aggregates
    (count(DISTINCT a), count(DISTINCT b), ... expand into Spark's
    multi-distinct aggregate plan), then an in-row struct explode melts
    the 1-row wide result into the long (col, stats) report — vs the
    naive one-scan-per-column loop the oracle spells out (the 100 TB
    difference: 1 pass, not n_cols passes). Type-specific min/max are
    deliberately excluded: a heterogeneous report column would force
    everything through strings, and numeric-to-string rendering is not
    cross-engine-stable.
    """
    o = t(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _PROFILE_COLS:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = o.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col"),
                F.col("n").alias("n"),
                F.col(f"nn_{c}").alias("n_nonnull"),
                F.col(f"nd_{c}").alias("n_distinct"),
                F.round(
                    (F.col("n") - F.col(f"nn_{c}")) / F.col("n"), 6
                ).alias("null_frac"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(entries).alias("e")).select(
        "e.col", "e.n", "e.n_nonnull", "e.n_distinct", "e.null_frac"
    )


@query(
    "etl_expectations",
    family="etl",
    oracle="""
    SELECT 'quantity_in_range' AS rule, count(*) AS n_checked,
           count(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50)
                        OR l_quantity IS NULL THEN 1 END) AS n_violations
    FROM lineitem
    UNION ALL
    SELECT 'discount_in_range', count(*),
           count(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1)
                        OR l_discount IS NULL THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'price_positive', count(*),
           count(CASE WHEN NOT (l_extendedprice > 0)
                        OR l_extendedprice IS NULL THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'returnflag_in_set', count(*),
           count(CASE WHEN l_returnflag NOT IN ('A', 'N', 'R')
                        OR l_returnflag IS NULL THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'shipdate_not_null', count(*),
           count(CASE WHEN l_shipdate IS NULL THEN 1 END)
    FROM lineitem
    UNION ALL
    SELECT 'orderkey_fk_exists', count(*),
           count(CASE WHEN o_orderkey IS NULL THEN 1 END)
    FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    UNION ALL
    SELECT 'orderkey_unique', count(*),
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    """,
)
def etl_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations (the Deequ/Great-
    Expectations gate shape): a rule set — range, set-membership,
    not-null, referential integrity, key uniqueness — evaluated into
    one (rule, n_checked, n_violations) report that an ingestion gate
    thresholds before accepting a batch.

    Plan shape is the 100 TB point: every ROW-LEVEL rule on the same
    table evaluates as conditional counts in a SINGLE aggregate pass
    (one scan for 5 rules — the oracle spells out the naive
    scan-per-rule loop this replaces), then the in-row struct-explode
    melt emits the long report. The referential rule is one left
    (anti-flag) join counting orphans; the uniqueness rule is
    count - count(DISTINCT) on the key. All counts — exact and
    order-insensitive, no float tolerance anywhere.
    """
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")

    def viol(cond):  # count rows FAILING the expectation (null = fail)
        return F.count(F.when(~F.coalesce(cond, F.lit(False)), F.lit(1)))

    row_rules = {
        "quantity_in_range": F.col("l_quantity").between(1, 50),
        "discount_in_range": F.col("l_discount").between(0.0, 0.1),
        "price_positive": F.col("l_extendedprice") > 0,
        "returnflag_in_set": F.col("l_returnflag").isin("A", "N", "R"),
        "shipdate_not_null": F.col("l_shipdate").isNotNull(),
    }
    wide = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[viol(c).alias(f"v_{r}") for r, c in row_rules.items()],
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(r).alias("rule"),
                F.col("n").alias("n_checked"),
                F.col(f"v_{r}").alias("n_violations"),
            )
            for r in row_rules
        ]
    )
    melted = wide.select(F.explode(entries).alias("e")).select(
        "e.rule", "e.n_checked", "e.n_violations"
    )
    fk = (
        li.select("l_orderkey")
        .join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left")
        .agg(
            F.lit("orderkey_fk_exists").alias("rule"),
            F.count(F.lit(1)).alias("n_checked"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("n_violations"),
        )
    )
    uniq = o.agg(
        F.lit("orderkey_unique").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("n_violations"),
    )
    return melted.unionAll(fk).unionAll(uniq)


@query(
    "etl_cdc_apply",
    family="etl",
    oracle="""
    WITH log AS (
        SELECT user_id, ts, event_id,
               CASE event_type WHEN 'signup' THEN 'insert'
                               WHEN 'error' THEN 'delete'
                               ELSE 'update' END AS op,
               value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_ops
        FROM events
    )
    SELECT user_id, op AS last_op, ts AS last_ts,
           CASE WHEN op = 'delete' THEN NULL ELSE value END AS last_value,
           CAST(n_ops AS BIGINT) AS n_ops,
           (op <> 'delete') AS alive
    FROM log WHERE rn = 1
    """,
)
def etl_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog materialization (the Debezium-compaction shape):
    the event stream is read as a change log on the user entity —
    signup = insert, error = delete, anything else = update — and
    compacted to current state by LAST-WRITER-WINS per key in
    (ts, event_id) order: surviving keys carry their latest value,
    deleted keys stay in the output as tombstones (alive = false) so a
    downstream merge can propagate the deletion (dropping them is one
    filter). This is the batch twin of a streaming `foreachBatch`
    MERGE: max-by compaction INSIDE the batch, merge across batches.

    Plan: one shuffle on the entity key; the row_number pick and the
    per-key op count share the same window exchange. At 100 TB
    changelogs compact per PARTITION first (the same expression over
    date-partitioned files), then merge — the operator composes
    because last-writer-wins is associative.
    """
    e = t(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    log = e.select(
        "user_id", "ts", "event_id", op.alias("op"), "value"
    ).select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_ops"),
    )
    return log.filter(F.col("rn") == 1).select(
        "user_id",
        F.col("op").alias("last_op"),
        F.col("ts").alias("last_ts"),
        F.when(F.col("op") == "delete", F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("last_value"),
        "n_ops",
        (F.col("op") != "delete").alias("alive"),
    )


@query(
    "etl_pseudonymize",
    family="etl",
    oracle="""
    SELECT o_orderkey,
           substr(sha256('pepper-v1:cust:'
                         || CAST(o_custkey AS VARCHAR)), 1, 16)
               AS cust_token,
           CAST(extract(YEAR FROM o_orderdate) AS INT) AS order_year,
           o_orderpriority
    FROM orders
    """,
)
def etl_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed pseudonymization for data sharing: the customer key is
    replaced by a peppered SHA-256 token (truncated to 64 bits) while
    the order date is generalized to year — PII leaves the dataset,
    but the token is DETERMINISTIC, so joins and per-customer
    aggregates still work across every pseudonymized table that used
    the same pepper (the property plain row-number anonymization
    destroys, and the piece llm_kanon_suppress doesn't cover —
    k-anonymity suppresses, this re-keys). Rotating the pepper
    unlinkably re-keys the corpus. sha256 hex is byte-identical in
    both engines; truncation to 16 hex chars keeps the token
    join-friendly at a 2⁻³² birthday bound per ~10⁴ entities
    (widen for larger domains — documented).

    Scale: pure map-side expression work, zero shuffle — anonymizing
    a corpus costs one scan at any size.
    """
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.substring(
            F.sha2(
                F.concat(
                    F.lit("pepper-v1:cust:"), F.col("o_custkey").cast("string")
                ),
                256,
            ),
            1,
            16,
        ).alias("cust_token"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        "o_orderpriority",
    )


@query(
    "etl_union_evolve",
    family="etl",
    oracle="""
    WITH v1 AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               CAST(NULL AS VARCHAR) AS o_orderpriority
        FROM orders WHERE year(o_orderdate) = 1995
    ),
    v2 AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders WHERE year(o_orderdate) = 1996
    ),
    unioned AS (
        SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT coalesce(o_orderpriority, '<pre-schema>') AS priority,
           count(*) AS n,
           CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                AS DECIMAL(28,6)) AS DOUBLE) AS revenue
    FROM unioned
    GROUP BY 1
    """,
)
def etl_union_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: an old batch written BEFORE a column existed
    is combined with a new batch via ``unionByName(allowMissingColumns
    =True)`` — Spark aligns by NAME and null-fills the missing column,
    the everyday append step when upstream schemas evolve (positional
    UNION would silently misalign or fail). The old batch's rows land
    in a '<pre-schema>' bucket downstream. Scale: the union is a
    zero-shuffle plan concatenation; only the final aggregate moves
    data, identical to a single-schema append.
    """
    o = t(spark, sf_dir, "orders")
    v1 = o.filter(F.year("o_orderdate") == 1995).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    v2 = o.filter(F.year("o_orderdate") == 1996).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    u = v1.unionByName(v2, allowMissingColumns=True)
    return (
        u.groupBy(
            F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias(
                "priority"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum(dec("o_totalprice")).alias("revenue"),
        )
    )


@query(
    "etl_table_diff",
    family="etl",
    oracle="""
    WITH v1 AS (
        SELECT * FROM orders WHERE year(o_orderdate) = 1995
    ),
    v2 AS (
        SELECT * FROM orders WHERE year(o_orderdate) IN (1995, 1996)
    ),
    keyed AS (
        SELECT coalesce(a.o_orderkey, b.o_orderkey) AS k,
               CASE WHEN a.o_orderkey IS NULL THEN 'added'
                    WHEN b.o_orderkey IS NULL THEN 'removed'
                    WHEN md5(a.o_orderstatus || '|' || a.o_totalprice
                             || '|' || a.o_orderpriority)
                      <> md5(b.o_orderstatus || '|' || b.o_totalprice
                             || '|' || b.o_orderpriority) THEN 'changed'
                    ELSE 'unchanged' END AS delta
        FROM v1 a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT delta, count(*) AS n,
           CAST(min(k) AS BIGINT) AS min_key, CAST(max(k) AS BIGINT) AS max_key
    FROM keyed GROUP BY delta
    """,
)
def etl_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation — the table-diff audit every migration
    and replication pipeline runs: two versions of a keyed table are
    FULL-OUTER joined on the key and each row is classed
    added/removed/changed/unchanged, with change detection via a
    row-content hash so wide tables compare on one column instead of
    n (the standard reconciliation trick; a raw column-by-column
    compare ships every field through the join). Here v2 extends v1
    with the 1996 orders, so the diff is all added+unchanged — the
    oracle re-derives the same classes relationally. Scale: ONE
    co-partitioned full-outer shuffle on the key; the hash collapses
    the comparison payload to 32 bytes/row regardless of width.
    """
    o = t(spark, sf_dir, "orders")
    row_hash = F.md5(
        F.concat_ws(
            "|", "o_orderstatus", "o_totalprice", "o_orderpriority"
        )
    )
    v1 = o.filter(F.year("o_orderdate") == 1995).select(
        F.col("o_orderkey").alias("k1"), row_hash.alias("h1")
    )
    v2 = o.filter(F.year("o_orderdate").isin(1995, 1996)).select(
        F.col("o_orderkey").alias("k2"), row_hash.alias("h2")
    )
    keyed = v1.join(v2, v1.k1 == v2.k2, "full").select(
        F.coalesce("k1", "k2").alias("k"),
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("delta"),
    )
    return keyed.groupBy("delta").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )


GDPR_MOD = 97  # synthetic deletion-request set: user_id % 97 == 0


@query(
    "etl_gdpr_purge",
    family="etl",
    oracle=f"""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS rows_before,
           CAST(sum(CASE WHEN user_id % {GDPR_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS rows_purged,
           CAST(sum(CASE WHEN user_id % {GDPR_MOD} = 0 THEN 0 ELSE 1 END)
                AS BIGINT) AS rows_after,
           CAST(count(DISTINCT CASE WHEN user_id % {GDPR_MOD} = 0
                                    THEN user_id END) AS BIGINT)
               AS subjects_erased
    FROM events
    GROUP BY event_type
    """,
)
def etl_gdpr_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure purge audit: given a deletion-request set (a
    deterministic synthetic slice of users), report per event type how
    many rows the purge removes and how many data subjects it erases —
    the audit record a GDPR/CCPA deletion job must emit alongside the
    rewritten data.

    Scale shape: the request set arrives as a broadcast semi/anti key
    set (here an arithmetic predicate standing in for it); the purge
    itself is ONE partition-preserving anti-join rewrite of the fact
    table (cf. sink_dynamic_overwrite for the partition-surgical
    write), and this audit is one grouped scan with conditional
    aggregates — before/after counts from the same pass, never two
    scans. Exact integers throughout.
    """
    e = t(spark, sf_dir, "events")
    is_req = F.col("user_id") % GDPR_MOD == 0
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_before"),
        F.sum(F.when(is_req, 1).otherwise(0)).cast("bigint").alias("rows_purged"),
        F.sum(F.when(is_req, 0).otherwise(1)).cast("bigint").alias("rows_after"),
        F.countDistinct(F.when(is_req, F.col("user_id")))
        .cast("bigint")
        .alias("subjects_erased"),
    )


# _USERS_LIKE_SCHEMA with payload.name made OPTIONAL — the typical
# schema-evolution relaxation after a quarantine review ("the upstream
# team stopped sending name; accept it")
_RELAXED_SCHEMA = {
    "properties": {
        "metadata": _USERS_LIKE_SCHEMA["properties"]["metadata"],
        "payload": {
            "properties": _USERS_LIKE_SCHEMA["properties"]["payload"][
                "properties"
            ],
            "required": ["id", "score"],
        },
    },
    "required": ["metadata", "payload"],
}


@query(
    "etl_quarantine_replay",
    family="etl",
    oracle="""
    WITH cls AS (
        SELECT CASE WHEN event_id % 13 = 0 THEN 'corrupt'
                    WHEN event_id % 7 = 0 THEN 'missing_required'
                    WHEN event_id % 5 = 0 THEN 'other'
                    ELSE 'valid' END AS first_class
        FROM events
    )
    SELECT first_class,
           CASE WHEN first_class = 'corrupt' THEN 'corrupt'
                WHEN first_class = 'missing_required' THEN 'valid'
                ELSE 'other' END AS replay_class,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM cls
    WHERE first_class <> 'valid'
    GROUP BY 1, 2
    """,
)
def etl_quarantine_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quarantine REPLAY after schema evolution: the docs a strict
    schema rejected are re-classified against the relaxed schema that
    made the offending field optional — the recovery loop every
    quarantine exists to enable (quarantine isn't a graveyard; it's a
    retry queue keyed by schema version). First pass: the
    etl_validate_route corpus under the strict users-like schema;
    replay: its INVALID docs under _RELAXED_SCHEMA (payload.name
    optional). Missing-name docs recover to valid; type errors and
    corrupt JSON stay dead — exactly the triage the oracle derives
    independently from the defect-injection arithmetic.

    Scale: both passes are the zero-shuffle classify projection over
    the quarantined subset; the output is one class-pair aggregate.
    The quarantined RAW text is the replay input (the quarantine
    sink's whole point is preserving bytes, not parses).
    """
    strict = parse_schema(_USERS_LIKE_SCHEMA)
    relaxed = parse_schema(_RELAXED_SCHEMA)
    e = t(spark, sf_dir, "events")
    k = F.col("event_id")
    meta = F.concat(
        F.lit('{"type": "ev", "event_at": "t", "event_id": "'),
        k.cast("string"),
        F.lit('"}'),
    )
    payload_ok = F.concat(
        F.lit('{"id": '), k.cast("string"),
        F.lit(', "name": "'), F.col("event_type"),
        F.lit('", "score": 1}'),
    )
    payload_missing = F.concat(
        F.lit('{"id": '), k.cast("string"), F.lit(', "score": 1}')
    )
    payload_badtype = F.concat(
        F.lit('{"id": "x'), k.cast("string"),
        F.lit('", "name": "n", "score": 1}'),
    )
    raw = (
        F.when(k % 13 == 0, F.lit("{broken json"))
        .when(k % 7 == 0, F.concat(F.lit('{"metadata": '), meta, F.lit(', "payload": '), payload_missing, F.lit("}")))
        .when(k % 5 == 0, F.concat(F.lit('{"metadata": '), meta, F.lit(', "payload": '), payload_badtype, F.lit("}")))
        .otherwise(F.concat(F.lit('{"metadata": '), meta, F.lit(', "payload": '), payload_ok, F.lit("}")))
    )
    docs = e.select(raw.alias("raw"), F.try_parse_json(raw).alias("v"))
    first = classify(docs, strict)
    # the quarantine: every non-valid row, RAW bytes preserved.
    # persist: the replay classify's filter would otherwise substitute
    # the strict validity CASE into its predicate (pushdown undoes
    # projection barriers — the janino class)
    quarantined = (
        first.filter(~F.col("is_valid"))
        .select("raw", F.col("error_class").alias("first_class"))
        .persist()
    )
    replay = classify(
        quarantined.select(
            "first_class", F.col("raw"), F.try_parse_json("raw").alias("v")
        ),
        relaxed,
    )
    return (
        replay.groupBy("first_class", F.col("error_class").alias("replay_class"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )


VOL_WINDOW_DAYS = 7  # trailing calendar window for the volume baseline
VOL_TOL = 0.5  # flag when |count - median| > 50% of the trailing median


@query(
    "etl_volume_anomaly",
    family="etl",
    oracle=f"""
    WITH day AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(date_trunc('day', ts) AS DATE))
                    AS BIGINT) AS dn,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2, 3
    )
    SELECT event_type, d, n_events,
           CAST(count(*) OVER w AS BIGINT) AS n_prior,
           CAST(median(n_events) OVER w AS DOUBLE) + 0.0
               AS trailing_median,
           round(CAST(n_events AS DOUBLE)
                 / (median(n_events) OVER w), 6) + 0.0 AS vol_ratio,
           (count(*) OVER w >= 3 AND
            abs(CAST(n_events AS DOUBLE) - median(n_events) OVER w)
              > {VOL_TOL} * (median(n_events) OVER w)) AS is_anomaly
    FROM day
    WINDOW w AS (PARTITION BY event_type ORDER BY dn
                 RANGE BETWEEN {VOL_WINDOW_DAYS} PRECEDING
                           AND 1 PRECEDING)
    """,
)
def etl_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion volume-anomaly check — the data-quality gate every
    pipeline runs before trusting a partition (the dbt/GX "volume"
    test, per (event_type, day)): compare each day's event count to
    the MEDIAN of the trailing {VOL_WINDOW_DAYS} CALENDAR days
    (excluding today — a corrupted today must not defend itself), and
    flag when the deviation exceeds {VOL_TOL:.0%} of that baseline.
    The median (not mean) keeps one bad yesterday from poisoning the
    baseline; requiring ≥3 prior days suppresses cold-start noise.

    Calendar-exact frame (the win_rolling_median discipline): RANGE
    over epoch-day numbers, so ingestion gaps can't stretch the
    baseline window over stale history. Determinism: counts are exact
    BIGINT; the windowed median of integers is exact (both engines
    average the two middle values); ratio and tolerance compare are
    single IEEE operations on identical chains. NULL
    trailing_median/ratio on the first day (empty frame) matches
    cross-engine.

    Scale: the check runs on the (event_type, day) aggregate —
    metadata-sized regardless of corpus size; one exact-count shuffle
    then a bounded range frame per partition.
    """
    e = t(spark, sf_dir, "events")
    day = e.groupBy(
        "event_type",
        F.date_trunc("day", "ts").alias("d"),
        F.datediff(F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("dn")
        .rangeBetween(-VOL_WINDOW_DAYS, -1)
    )
    med = F.expr("percentile(n_events, 0.5)").over(w)
    n_prior = F.count(F.lit(1)).over(w)
    return day.select(
        "event_type",
        "d",
        "n_events",
        n_prior.cast("bigint").alias("n_prior"),
        (med.cast("double") + 0.0).alias("trailing_median"),
        (F.round(F.col("n_events").cast("double") / med, 6) + 0.0).alias(
            "vol_ratio"
        ),
        (
            (n_prior >= 3)
            & (
                F.abs(F.col("n_events").cast("double") - med)
                > F.lit(VOL_TOL) * med
            )
        ).alias("is_anomaly"),
    )


@query(
    "etl_audit_chain",
    family="etl",
    oracle="""
    WITH day AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '1970-01-01',
                              CAST(date_trunc('day', ts) AS DATE))
                    AS BIGINT) AS dn,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS cents,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    ),
    dg AS (
        SELECT event_type, dn,
               md5(CAST(dn AS VARCHAR) || '|' || CAST(cents AS VARCHAR)
                   || '|' || CAST(n_events AS VARCHAR)) AS digest
        FROM day
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           min_by(digest, dn) AS head_digest,
           list_reduce(list(digest ORDER BY dn),
                       (a, x) -> md5(a || x)) AS chain_digest
    FROM dg GROUP BY event_type
    """,
)
def etl_audit_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tamper-evident audit chain over each event_type's daily ledger —
    the hash-chain integrity witness a regulated pipeline publishes
    with its aggregates: day i's link is md5(link_{i−1} ‖ digest_i)
    where digest_i = md5(dn|cents|n_events), so ANY retroactive edit
    to any day changes the final chain digest, and two parties who
    agree on the head and tail digests agree on the whole ledger
    without exchanging it. (The blockchain shape minus consensus —
    what 'audit log' means in a warehouse.)

    Determinism: digests are md5 over canonical integer text
    (cross-engine identical); the chain is an ORDERED string fold —
    Spark ``aggregate(slice(ds, 2, …), ds[0], md5(concat))`` ≡ DuckDB
    ``list_reduce(list(digest ORDER BY dn), md5(a || x))`` (init from
    first element, the established fold identity with a STRING state).

    Scale: one (event_type, day) shuffle then one event_type fold;
    at 100 TB the chain composes — yesterday's tail digest seeds
    today's fold, so the daily job hashes one day, not the history
    (the incremental-ingest shape, like llm_dedup_bloom_incremental's
    never-reshuffled archive).
    """
    e = t(spark, sf_dir, "events")
    day = e.groupBy(
        "event_type",
        F.datediff(F.to_date(F.date_trunc("day", "ts")), F.lit("1970-01-01"))
        .cast("long")
        .alias("dn"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    dg = day.select(
        "event_type",
        "dn",
        F.md5(
            F.concat_ws(
                "|",
                F.col("dn").cast("string"),
                F.col("cents").cast("string"),
                F.col("n_events").cast("string"),
            )
        ).alias("digest"),
    )
    return (
        dg.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr("min_by(digest, dn)").alias("head_digest"),
            F.expr(
                "transform(array_sort(collect_list(struct(dn, digest))),"
                " s -> s.digest)"
            ).alias("ds"),
        )
        .select(
            "event_type",
            "n_days",
            "head_digest",
            F.expr(
                "aggregate(slice(ds, 2, size(ds) - 1), ds[0],"
                " (a, x) -> md5(concat(a, x)))"
            ).alias("chain_digest"),
        )
    )


FRESH_SLA_HOURS = 48  # staleness budget per stream


@query(
    "etl_freshness_sla",
    family="etl",
    oracle=f"""
    WITH per AS (
        SELECT event_type,
               CAST(max(ts) AS TIMESTAMP) AS last_ts,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY event_type
    ),
    ref AS (SELECT max(last_ts) AS corpus_max FROM per)
    SELECT p.event_type, p.last_ts, p.n_events,
           CAST(date_diff('microsecond', p.last_ts, r.corpus_max)
                AS BIGINT) AS lag_us,
           round(CAST(date_diff('microsecond', p.last_ts, r.corpus_max)
                      AS DOUBLE) / CAST(3600000000 AS DOUBLE), 6)
               + CAST(0 AS DOUBLE) AS lag_hours,
           date_diff('microsecond', p.last_ts, r.corpus_max)
             <= CAST({FRESH_SLA_HOURS} AS BIGINT) * 3600000000 AS fresh
    FROM per p CROSS JOIN ref r
    """,
)
def etl_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness SLA — the third leg of the DQ gate family
    (etl_volume_anomaly watches row VOLUME, etl_expectations watches
    VALUES; this watches ARRIVAL): each event_type's high-water mark
    lags the corpus-wide high-water mark by at most
    {FRESH_SLA_HOURS} h, else the stream is stale (a dead producer, a
    stuck partition, an upstream backlog). The reference point is the
    CORPUS max — self-referential, so the check is reproducible on
    static data (a live deployment substitutes wall clock; using the
    corpus max also makes the freshest stream trivially green, which
    is the correct fixed point).

    Determinism: timestamps are exact µs; the lag is one
    timestampdiff; the SLA compare is exact integer µs.

    Scale: one map-side-combined (event_type) max/count aggregate,
    then a 1-row broadcast of the corpus max — one scan at any size,
    and the scan prunes to (event_type, ts).
    """
    e = t(spark, sf_dir, "events")
    per = e.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
    )
    ref = per.agg(F.max("last_ts").alias("corpus_max"))
    lag = F.expr("timestampdiff(MICROSECOND, last_ts, corpus_max)")
    return per.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "last_ts",
        "n_events",
        lag.cast("bigint").alias("lag_us"),
        (F.round(lag.cast("double") / 3600000000.0, 6) + 0.0).alias(
            "lag_hours"
        ),
        (lag <= F.lit(FRESH_SLA_HOURS).cast("bigint") * 3600000000).alias(
            "fresh"
        ),
    )

"""Shared helpers for query modules.

Determinism policy for the DuckDB oracle (see registry.py docstring):
money math runs in exact DECIMAL(18,6) and is cast to DOUBLE only at the
very end. The testdata doubles are 2-decimal-generated, so the
double→decimal(18,6) cast is an exact recovery on both engines; decimal
addition is associative, so partition-order differences between Spark and
DuckDB cannot change a single bit of the result.

Decimal precision discipline: every multiplication operand is first cast
to DECIMAL(18,6) so products stay at precision 37 ≤ 38 — above 38 Spark
silently rounds, which would break engine parity.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Row, SparkSession, Window
from pyspark.sql import functions as F

from local_etl_spark.catalog import table

DEC6 = "decimal(18,6)"


def ordered_prefix(
    df: DataFrame,
    order: list[Column | str],
    rank_col: str | None = None,
    prefix: tuple[tuple[str, str, str], ...] = (),
) -> tuple[DataFrame, int]:
    """Exact global row_number / running aggregates WITHOUT a
    single-partition WindowExec (the 100 TB-fatal plan Spark produces
    for any window with no PARTITION BY).

    ``order`` must be a TOTAL order (include a unique tiebreak).
    ``prefix`` entries are ``(src_col, kind, out_col)`` with kind in
    {"sum", "max"} — ``out_col`` is the INCLUSIVE running aggregate of
    ``src_col`` in global ``order``; sums must be integral types.

    Plan: range-repartition on the order key (Spark's sampled, skew-free
    boundaries — the same mechanism a global sort uses) → in-partition
    sort → per-partition count/agg rows collected to the driver
    (O(#partitions), never data-sized) → exclusive offsets broadcast
    back → window PARTITIONED by the range-bucket id. Every stage is
    parallel; driver state and the broadcast scale with the partition
    count, not the data.

    The range-partitioned relation is localCheckpoint()ed (ADVICE r4):
    the bucket-id column must be identical between the offsets job and
    the final job, and range boundaries are re-sampled on recompute. A
    plain persist() leaves a recompute path open (executor loss,
    StorageLevel eviction) that would silently re-sample boundaries and
    corrupt ranks; a local checkpoint TRUNCATES the lineage, so losing
    a checkpointed block fails the job loudly instead — fail-stop, not
    fail-wrong. Deliberately never released: the blocks must outlive
    this call for the returned DataFrame's final job.

    Returns ``(df_with_rank_and_prefix_cols, total_row_count)`` — the
    total comes free from the offsets job, so callers never need a
    count() over an empty window.
    """
    spark = df.sparkSession
    npart = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (
        df.repartitionByRange(npart, *order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (src, kind, _out) in enumerate(prefix):
        agg = F.sum(src) if kind == "sum" else F.max(src)
        aggs.append(agg.alias(f"_a{i}"))
    stats = part.groupBy("_pid").agg(*aggs)
    rows = sorted(stats.collect(), key=lambda r: r["_pid"])

    # exclusive prefixes per partition (sum: 0-start; max: None-start)
    off_rows: list[Row] = []
    rk = 0
    acc: list = [None] * len(prefix)
    for r in rows:
        off_rows.append(
            Row(
                _pid=r["_pid"],
                _rk_off=rk,
                **{f"_o{i}": acc[i] for i in range(len(prefix))},
            )
        )
        rk += r["_n"]
        for i, (_src, kind, _out) in enumerate(prefix):
            v = r[f"_a{i}"]
            if v is None:
                continue
            if acc[i] is None:
                acc[i] = v
            elif kind == "sum":
                acc[i] = acc[i] + v
            else:
                acc[i] = max(acc[i], v)
    total = rk

    from pyspark.sql import types as T

    fields = [
        T.StructField("_pid", T.IntegerType(), False),
        T.StructField("_rk_off", T.LongType(), False),
    ]
    for i, (_src, _kind, _out) in enumerate(prefix):
        fields.append(
            T.StructField(f"_o{i}", stats.schema[f"_a{i}"].dataType, True)
        )
    offsets = spark.createDataFrame(off_rows, schema=T.StructType(fields))

    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = part.join(F.broadcast(offsets), "_pid")
    if rank_col is not None:
        rw = Window.partitionBy("_pid").orderBy(*order)
        out = out.withColumn(
            rank_col, F.row_number().over(rw) + F.col("_rk_off")
        )
    drop = ["_pid", "_rk_off"]
    for i, (src, kind, out_col) in enumerate(prefix):
        local = (F.sum(src) if kind == "sum" else F.max(src)).over(w)
        if kind == "sum":
            cum = local + F.coalesce(
                F.col(f"_o{i}"), F.lit(0).cast(stats.schema[f"_a{i}"].dataType)
            )
        else:
            cum = F.greatest(local, F.col(f"_o{i}"))  # greatest skips nulls
        out = out.withColumn(out_col, cum)
        drop.append(f"_o{i}")
    return out.drop(*drop), total


def dec(c: str | Column) -> Column:
    """Exact decimal view of a 2dp-generated double column."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(DEC6)


def dsum(c: Column) -> Column:
    """Exact decimal sum emitted as DOUBLE (deterministic across engines).

    The intermediate DECIMAL(28,6) squeeze matters: DuckDB's
    decimal→double cast divides an int128 by 10^scale in floating point,
    which double-rounds at scale 12; at scale 6 the conversion is exact
    for |value| < 2^53/10^6 ≈ 9e9, so both engines emit identical bits.
    Oracle form: ``CAST(CAST(sum(...) AS DECIMAL(28,6)) AS DOUBLE)``.
    """
    return F.sum(c).cast("decimal(28,6)").cast("double")


def davg(c: Column) -> Column:
    """avg = exact-decimal sum cast to double, divided by count.

    Plain ``avg(double)`` is summation-order-dependent; this form is not.
    Oracle: ``CAST(CAST(sum(CAST(x AS DECIMAL(18,6))) AS DECIMAL(28,6))
    AS DOUBLE) / count(x)``.
    """
    return F.sum(c).cast("decimal(28,6)").cast("double") / F.count(c)


def _ntile_from_rank(rank_col: str, n: int, k: int) -> Column:
    """SQL-standard ``ntile(k)`` bucket from an exact 1-based global rank.

    ntile semantics (identical in Spark and DuckDB): the first ``n % k``
    tiles hold ``n // k + 1`` rows, the rest ``n // k``. With the total
    row count ``n`` known driver-side (free from ``ordered_prefix``),
    the bucket is pure map-side arithmetic — no window at all.
    """
    base, r = divmod(n, k)
    big = base + 1
    rnk = F.col(rank_col)
    if base == 0:  # fewer rows than tiles: tile == rank
        return rnk.cast("int")
    # integral DIV keeps the arithmetic exact at any n (double division
    # could misround at the tile boundaries for n near 2^52)
    head = F.expr(f"({rank_col} - 1) DIV {big}") + 1
    tail = F.lit(r) + F.expr(f"({rank_col} - {r * big} - 1) DIV {base}") + 1
    return F.when(rnk <= r * big, head).otherwise(tail).cast("int")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Shorthand testdata table loader."""
    return table(spark, sf_dir, name)


def free_checkpoint(df: DataFrame) -> None:
    """Free the blocks of ``df``, a frame returned by localCheckpoint().
    DataFrame.unpersist() only reaches the cache manager, not a local
    checkpoint's blocks, which otherwise stay until a JVM GC runs
    Spark's ContextCleaner. A loop that replaces its checkpointed state
    each round calls this on the replaced frame once the new one is
    materialized; never on a checkpoint that a live frame still reads."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)


# Connected components run on the driver below this many DIRECTED pair
# rows (twice the undirected pair count): the pair list is a sketch or
# forest OUTPUT, model-sized at every shipped scale, and one collect
# plus numpy beats a loop of distributed rounds. Above it the
# distributed hash-to-min loop runs.
CC_DRIVER_MAX_PAIRS = 2_000_000


def min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Component labels of nodes 0..n-1 under the undirected edges
    (a[i], b[i]): label = least node index of the component.

    Vectorized union-find: every root that still has a cross edge
    hooks onto the least root across its edges, then pointer jumping
    flattens the forest. Pointers only point down, so no cycle forms,
    and each round lowers the label sum, so the loop ends. A root that
    neither hooks nor is hooked onto in one round sees only smaller
    neighbour roots in the next and hooks then, so the count of roots
    with a cross edge halves every two rounds: O(log n) rounds of
    O(n + len(a)) numpy work, no Python loop over nodes."""
    lab = np.arange(n, dtype=np.int64)
    while True:
        la, lb = lab[a], lab[b]
        cross = la != lb
        if not cross.any():
            return lab
        la, lb = la[cross], lb[cross]
        np.minimum.at(lab, np.maximum(la, lb), np.minimum(la, lb))
        while True:
            up = lab[lab]
            if np.array_equal(up, lab):
                break
            lab = up


def components(pairs: DataFrame) -> DataFrame:
    """Connected components of the undirected graph whose edges are the
    rows of the two-column frame ``pairs``: one (id, label, size) row
    per node that appears in a pair, label = least id of its component
    and size = its node count. Keys may be of any orderable type shared
    by both columns (bigint doc ids, string node names); nodes in no
    pair are the caller's to add.

    Below CC_DRIVER_MAX_PAIRS directed pairs (so never when it is 0)
    the pairs are collected once and labelled by min_labels (ids
    factorized in sorted order, so the least index is the least id);
    otherwise _hash_to_min runs. Either way the pair cache is released
    before return."""
    spark = pairs.sparkSession
    a, b = pairs.columns
    pairs = pairs.persist()
    try:
        n_pairs = pairs.count()
        if 2 * n_pairs >= CC_DRIVER_MAX_PAIRS:
            return _hash_to_min(pairs.toDF("src", "dst"))
        pdf = pairs.toPandas()
    finally:
        pairs.unpersist()
    codes, ids = pd.factorize(
        np.concatenate([pdf[a].to_numpy(), pdf[b].to_numpy()]), sort=True
    )
    lab = min_labels(codes[:n_pairs], codes[n_pairs:], len(ids))
    key = pairs.schema[a].dataType.simpleString()
    return spark.createDataFrame(
        pd.DataFrame(
            {"id": ids, "label": ids[lab], "size": np.bincount(lab)[lab]}
        ),
        f"id {key}, label {key}, size bigint",
    )


def _hash_to_min(pairs: DataFrame) -> DataFrame:
    """Distributed tier of components() over a persisted (src, dst)
    pair list: every node takes the least label among itself and its
    neighbours until no label moves. Labels stop moving after at most
    diameter ≤ node-count − 1 rounds, so a loop still moving after
    node-count + 1 rounds raises instead of returning unconverged
    labels. Each round is localCheckpoint()ed (the join plan would
    otherwise double per round) and the previous one freed
    (free_checkpoint); the last round backs the returned frame."""
    edges = pairs.unionAll(pairs.select("dst", "src")).persist()
    try:
        state = (
            edges.select(F.col("src").alias("id"))
            .distinct()
            .select("id", F.col("id").alias("label"))
            .localCheckpoint()
        )
        for _ in range(state.count() + 1):
            neigh = (
                edges.join(state, edges.dst == state.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("label").alias("nlabel"))
            )
            new = (
                state.join(neigh, "id")
                .select(
                    "id",
                    F.least("label", "nlabel").alias("label"),
                    (F.col("nlabel") < F.col("label")).alias("moved"),
                )
                .localCheckpoint()
            )
            free_checkpoint(state)
            state = new
            if state.filter("moved").count() == 0:
                break
        else:
            raise RuntimeError(
                "components: labels still moving after node-count rounds"
            )
    finally:
        edges.unpersist()
    return state.select(
        "id",
        "label",
        F.count(F.lit(1)).over(Window.partitionBy("label")).alias("size"),
    )

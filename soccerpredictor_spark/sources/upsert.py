"""Primary-key upsert semantics on parquet tables.

Re-expresses the reference's per-row Kudu ``UPSERT INTO`` sink
(Spider/GameSpider.py:187-202) as batch, idempotent DataFrame writes:
keep the latest batch row per PK, drop the existing rows whose PK the
batch carries, union the two, and atomically swap the table directory.
``upsert`` checks the table name against the soccer-table whitelist
(``schemas.soccer_table``), as the reference does.

Scale notes: only the batch is sorted — latest-by-key is one window
shuffle of the batch on the PK — and the existing table is touched by
one PK anti-join (a key-only broadcast when the batch is small). The
whole merged table is still rewritten on every batch.
"""

from __future__ import annotations

import os
import shutil
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from soccerpredictor_spark.schemas import UnknownTableError, soccer_table  # noqa: F401  (re-exported)


def check_table(table: str) -> tuple[str, ...]:
    """Whitelist check; returns the table's PK columns."""
    return soccer_table(table)[1]


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep the single latest row per key.

    ``order_cols`` are ranked descending (first = most significant);
    callers should end with a unique column (e.g. a batch/event id) so
    the result is deterministic. This is the read-side of upsert
    semantics: latest version wins.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_df(
    existing: DataFrame | None,
    batch: DataFrame,
    pk: Sequence[str],
    seq_col: str | None = None,
) -> DataFrame:
    """Pure-DataFrame upsert — ``apply_cdc`` without deletes: new batch
    rows win over existing rows on PK collision; within a batch, the
    row with the highest ``seq_col`` wins (matching sequential per-row
    UPSERT order in the reference).

    Precondition: ``existing`` is a PK table (one row per PK) — the
    invariant this operator itself maintains, so it holds inductively
    across upserts. ``seq_col`` ordering applies to BATCH rows only;
    duplicate PKs inside ``existing`` survive unless the batch carries
    the PK (property-tested in tests/test_properties.py).

    ``seq_col`` should be an explicit, data-derived sequence — a scrape
    timestamp, a source line number, an event id. When omitted, the
    fallback is ``monotonically_increasing_id`` over the batch AS
    RECEIVED, which encodes physical partition layout: it reflects
    logical row order ONLY while the batch is a freshly-created,
    insertion-ordered DataFrame (e.g. straight from
    ``ingest.rows_to_df``) — any repartition/shuffle in between makes
    intra-batch conflict resolution arbitrary. Ingest adapters that can
    carry a real sequence column must pass it.
    """
    seq = F.monotonically_increasing_id() if seq_col is None else F.col(seq_col)
    changes = batch.withColumn("__op", F.lit("U")).withColumn("__seq", seq)
    return apply_cdc(existing, changes, pk, "__op", "__seq")


def upsert(
    spark: SparkSession,
    table_dir: str,
    table: str,
    batch: DataFrame,
    seq_col: str | None = None,
) -> None:
    """Upsert a batch into a parquet table directory, atomically.

    Write-to-temp then directory swap, so a partial failure never
    leaves a corrupt table (SURVEY.md §7.4 upsert-without-Delta risk).
    ``seq_col``: see ``upsert_df`` — pass a real sequence column
    whenever the batch has one.
    """
    pk = check_table(table)
    upsert_path(spark, os.path.join(table_dir, table), batch, pk, seq_col=seq_col)


def upsert_path(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    pk: Sequence[str],
    seq_col: str | None = None,
    out_partitions: int | None = None,
) -> None:
    """Whitelist-free upsert into an explicit parquet table path —
    the engine primitive behind ``upsert`` and the streaming
    ``foreachBatch`` sink (streaming/events.upsert_sink).

    ``out_partitions``: coalesce the merged table to this many output
    files — the scoped alternative to mutating the session-global
    ``spark.sql.shuffle.partitions`` (which a concurrently-planned
    query on the shared session would observe).
    """
    existing = spark.read.parquet(path) if os.path.exists(path) else None
    merged = upsert_df(existing, batch, pk, seq_col=seq_col)
    if out_partitions is not None:
        merged = merged.coalesce(out_partitions)
    atomic_swap_write(merged, path)


def atomic_swap_write(df: DataFrame, path: str) -> None:
    """Write ``df`` as a parquet table at ``path`` atomically:
    write-to-temp, then directory rename swap — a partial failure
    never leaves a corrupt table. The single swap implementation
    shared by the batch upsert, the streaming foreachBatch upsert
    sink, and the CDC sink."""
    tmp = f"{path}.__tmp_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").parquet(tmp)
    # Force materialization happened at write; now swap directories.
    if os.path.exists(path):
        old = f"{path}.__old_{uuid.uuid4().hex[:8]}"
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
    else:
        os.rename(tmp, path)


def apply_cdc(
    existing: DataFrame | None,
    changes: DataFrame,
    pk: Sequence[str],
    op_col: str,
    seq_col: str,
) -> DataFrame:
    """Full CDC merge — the one PK merge, behind ``upsert_df`` too
    (Delta/Iceberg ``MERGE WHEN MATCHED THEN UPDATE/DELETE`` semantics
    as plain DataFrame ops):

    - ``changes`` rows carry ``op_col`` ('I'/'U' upsert, 'D' delete)
      and a unique ``seq_col`` ordering the stream;
    - per PK, only the LATEST change matters (one window pass over the
      change batch — the change stream, not the table, pays the sort);
    - final state = (existing MINUS changed PKs) UNION latest
      non-delete changes. PKs match null-safely, so a NULL key is one
      key like any other.

    Shape at 100 TB: the big ``existing`` table is touched by exactly
    one anti-join on the PK (key-only broadcast when the change batch
    is small — the common case); deletes cost nothing extra.
    """
    latest = latest_by_key(
        changes.withColumn(seq_col, F.col(seq_col).cast("long")), pk, [seq_col]
    )
    survivors = latest.filter(F.col(op_col) != "D").drop(op_col, seq_col)
    if existing is None:
        return survivors
    keys = changes.select(*[F.col(k).alias(f"__pk{i}") for i, k in enumerate(pk)])
    on = [F.col(k).eqNullSafe(F.col(f"__pk{i}")) for i, k in enumerate(pk)]
    return existing.join(keys, on, "left_anti").unionByName(survivors)


# --------------------------------------------------------------------------
# snapshot diff: row-level reconciliation of two table versions
# --------------------------------------------------------------------------


def snapshot_diff(old: DataFrame, new: DataFrame, pk: str, hash_cols: list[str]) -> DataFrame:
    """Row-level diff of two snapshots of the same table — the
    reconciliation report every CDC/replication pipeline runs to
    audit an apply (did the upsert produce exactly the expected adds/
    removes/changes?): full-outer join on the primary key, rows
    classified by presence and by an md5 row fingerprint over the
    compared columns.

    Scale: ONE key-shuffle join (co-partitionable/bucketable on the
    PK); the fingerprint is computed scan-side so the exchange
    carries (pk, 32-byte hash), never the row payload. Classification
    and counts are exact; output is 4 rows.
    """
    def fp(df: DataFrame) -> F.Column:
        return F.md5(
            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in hash_cols])
        )

    lo = old.select(F.col(pk).alias("k"), fp(old).alias("h_old"))
    ln = new.select(F.col(pk).alias("k"), fp(new).alias("h_new"))
    joined = lo.join(ln, "k", "full_outer")
    klass = (
        F.when(F.col("h_old").isNull(), "added")
        .when(F.col("h_new").isNull(), "removed")
        .when(F.col("h_old") != F.col("h_new"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(klass.alias("klass"))
        .groupBy("klass")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("klass")
    )


#: deterministic synthetic-version gates (percent of keys).
SNAPSHOT_REMOVED_MOD = 20  # h % 20 == 0 -> row only in OLD
SNAPSHOT_ADDED_MOD = 20    # h % 20 == 1 -> row only in NEW
SNAPSHOT_CHANGED_MOD = 20  # h % 20 == 2 -> price bumped in NEW


def snapshot_diff_orders(orders: DataFrame) -> DataFrame:
    """``snapshot_diff`` driven by two deterministic synthetic
    versions of the orders table (md5-gated: 1/20 of keys removed,
    1/20 added, 1/20 price-changed; the gates are disjoint residues
    of one hash), so the expected class counts are reproducible on
    any engine."""
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sd"), F.col("o_orderkey").cast("string"))), 1, 8),
            16,
            10,
        ).cast("long")
        % SNAPSHOT_REMOVED_MOD
    )
    base = orders.select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        h.alias("g"),
    )
    old = base.filter(F.col("g") != 1).select(
        "o_orderkey", "o_orderstatus", "cents"
    )
    new = base.filter(F.col("g") != 0).select(
        "o_orderkey",
        "o_orderstatus",
        (
            F.col("cents") + F.when(F.col("g") == 2, 100).otherwise(0)
        ).alias("cents"),
    )
    return snapshot_diff(
        old, new, "o_orderkey", ["o_orderstatus", "cents"]
    )


def snapshot_diff_orders_sql() -> str:
    gate = (
        "CAST('0x' || substr(md5('sd' || CAST(o_orderkey AS VARCHAR)), 1, 8)"
        f" AS BIGINT) % {SNAPSHOT_REMOVED_MOD}"
    )
    return f"""
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         {gate} AS g
  FROM orders
),
old AS (
  SELECT o_orderkey AS k,
         md5(CAST(o_orderstatus AS VARCHAR) || chr(31)
             || CAST(cents AS VARCHAR)) AS h_old
  FROM base WHERE g <> 1
),
new_v AS (
  SELECT o_orderkey AS k,
         md5(CAST(o_orderstatus AS VARCHAR) || chr(31)
             || CAST(cents + CASE WHEN g = 2 THEN 100 ELSE 0 END
                     AS VARCHAR)) AS h_new
  FROM base WHERE g <> 0
)
SELECT CASE WHEN h_old IS NULL THEN 'added'
            WHEN h_new IS NULL THEN 'removed'
            WHEN h_old <> h_new THEN 'changed'
            ELSE 'unchanged' END AS klass,
       COUNT(*) AS n_rows
FROM old FULL OUTER JOIN new_v USING (k)
GROUP BY 1 ORDER BY 1
"""

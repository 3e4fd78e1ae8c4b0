"""Keyed upsert/delete — last-write-wins by primary key (SURVEY §2.4 K1).

The reference's sinks write each document under ``_id`` = table primary
key with action index/upsert/delete derived from the CDC event type
(custom_resource.py:350-351,370-371; NEW_IMAGE stream view). The
materialized index is therefore the per-key latest image. Spark-first:

- per key, the highest sequence number wins — never task order
  (SURVEY §7.3 known-hard #1);
- across batches: merge = the per-key latest over stored rows ∪ batch
  rows, in one reduction (MERGE emulation without Delta, SURVEY §7.3
  #3).

Scale notes: the reduction shuffles once, on the key — unavoidable for
keyed semantics. Its input is |batch| + |stored rows of the touched
index partitions|, not |index|, once the index is stored partitioned
by a stable hash of the key (see streaming/pipeline.py); with a batch
that touches every partition, that is the whole index. The per-key
latest is a ``max_by(struct, seq)`` groupBy, which combines map-side
before the shuffle (less shuffle volume than row_number over raw rows)
unless the caller co-locates rows by a partition column first
(``partition_by``), which makes that repartition the only shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ACTION_COL = "_action"
SEQ_COL = "_seq"
DELETED_COL = "_deleted"


def derive_action(event_name: Column) -> Column:
    """CDC event type → sink action (SURVEY §2.2 T3; OSIS
    ``getMetadata("opensearch_action")`` semantics: INSERT→index,
    MODIFY→upsert, REMOVE→delete)."""
    return (
        F.when(event_name == "REMOVE", "delete")
        .when(event_name == "INSERT", "index")
        .otherwise("upsert")
    )


def latest_by_key(
    df: DataFrame,
    key: str = "_id",
    seq: str = SEQ_COL,
    partition_by: tuple[str, int] | None = None,
) -> DataFrame:
    """Per-key latest row by sequence number.

    Implemented as ``max_by(struct(*), seq)`` — an aggregate, so Spark
    runs a map-side partial reduction before the shuffle: shuffle volume
    is one row per distinct key per input partition, not every event.
    Duplicate (key, seq) deliveries (at-least-once) collapse to one row
    because max_by picks a single struct.

    ``partition_by=(col, n)`` names a column that is a function of the
    key (the index's hash bucket). The rows are then repartitioned into
    ``n`` partitions on ``col`` — the plan's only shuffle — and reduced
    per (``col``, key) inside each partition, so the result stays
    hash-partitioned on ``col``: a write partitioned by ``col`` needs no
    further shuffle and produces one file per ``col`` value.
    """
    cols = [c for c in df.columns]
    keys = [F.col(key).alias("__k")]
    if partition_by is not None:
        part_col, n = partition_by
        df = df.repartition(n, part_col)
        keys.insert(0, F.col(part_col).alias("__p"))
    packed = df.select(
        *keys,
        F.col(seq).alias("__s"),
        F.struct(*cols).alias("__row"),
    )
    latest = packed.groupBy(*packed.columns[:len(keys)]).agg(
        F.max_by("__row", "__s").alias("__row"))
    if partition_by is None:
        return latest.select("__row.*")
    # the grouping column, not its copy inside the struct, so the
    # output keeps the repartition's partitioning
    return latest.select(*(
        F.col("__p").alias(c) if c == part_col else F.col(f"__row.`{c}`")
        for c in cols))


def apply_cdc_batch(
    index: DataFrame | None,
    batch: DataFrame,
    key: str = "_id",
    seq: str = SEQ_COL,
    action: str = ACTION_COL,
    keep_tombstones: bool = False,
    partition_by: tuple[str, int] | None = None,
) -> DataFrame:
    """MERGE a CDC micro-batch into the current index frame.

    Returns the new index: the per-key *highest-sequence* image across
    both the stored index and the batch, minus deletes. The returned
    frame (and therefore the stored index) KEEPS the ``seq`` column —
    that is what makes last-write-wins hold *across* micro-batches: a
    late re-delivered event with a lower sequence number than the stored
    image loses the ``max_by`` and cannot clobber it (the reference's
    per-key-latest semantic, custom_resource.py:350-351, is by sequence,
    not by arrival order). Idempotent under re-delivery of the same
    batch (exactly-once effect, SURVEY K2): a replayed (key, seq) ties
    with the stored row carrying an identical image.

    Default (matches the reference sink): deletes are not stored as
    tombstones, so an upsert with a lower seq re-delivered *after* the
    delete's batch re-creates the document — same behavior as an
    OpenSearch delete followed by a late index call without external
    versioning. Pass ``keep_tombstones=True`` for strictly stronger
    semantics: deletes persist as rows flagged ``_deleted`` (body NULL)
    carrying their sequence number, so the stale upsert loses the
    ``max_by`` and stays dead. Read paths must filter ``_deleted``;
    compaction can purge (see streaming/pipeline.py).

    Stored rows and batch rows go through ONE per-key reduction (one
    shuffle); ``partition_by`` is passed to :func:`latest_by_key`.
    """
    rows = batch
    if index is not None:
        prior = index
        if seq not in prior.columns:  # legacy index written without seq
            prior = prior.withColumn(seq, F.lit(-1).cast("long"))
        if DELETED_COL in prior.columns:
            prior = prior.withColumn(
                action,
                F.when(F.col(DELETED_COL), "delete").otherwise("index"),
            ).drop(DELETED_COL)
        else:
            prior = prior.withColumn(action, F.lit("index"))
        rows = prior.unionByName(batch)
    merged = latest_by_key(rows, key=key, seq=seq, partition_by=partition_by)
    if keep_tombstones:
        return merged.withColumn(
            DELETED_COL, F.col(action) == "delete"
        ).drop(action)
    return merged.filter(F.col(action) != "delete").drop(action)

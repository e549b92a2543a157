"""Store reconciliation: which documents must be (re)loaded into, or purged
from, a downstream store to make it match a source snapshot.

Ports the computational core of the reference's OpenSearch incremental
reload/sync algorithm (reference ``connectors/opensearch/sync.py:1-643``):
a materialize directory encodes, per source document, its mtime and — once
a load completed — a sync-metadata record carrying the *split-aware sorted
hash* of the pieces that load produced; the destination index lists one row
per piece ``(doc_id, parent_id, doc_mtime)``. Reconciliation never reads
document CONTENT on either side — everything needed is in the listings:

1. A source doc with no sync-metadata record, a duplicate record, or a
   record whose mtime no longer matches the file must reload
   (``missing_md_info``; the stale-mtime case additionally flags
   ``stale_md`` — the reference's ``updated_source_file`` counter).
2. A source doc with a valid record but no destination pieces must reload
   (``missing_os_record``).
3. Otherwise recompute the destination group's key — SHA-256 over the
   group's ``doc_mtime`` and the SORTED piece ids (``calculate_doc_key``,
   reference sync.py:140) — and compare with the recorded key: equal ⇒
   ``correctly_loaded``; different ⇒ ``mismatch_key`` (reload the doc AND
   delete its current pieces first, reference sync.py:209-220,440-456).
   A destination group whose ``doc_mtime`` is carried by zero or multiple
   pieces keys with mtime ``-1`` (reference sync.py:376-388), so it can
   only match a record that was written in the same degenerate state.
4. Every destination group whose id is not in the source is purged
   (``only_in_os``, reference ``delete_os_not_in_source`` sync.py:396).

The reference walks driver-side dicts built from two full listings; here
both listings are DataFrames and the reconciliation is two hash
aggregations plus one full-outer join on the document id — at 100 TB the
listings are metadata-scale (one row per doc / per piece, no payloads),
every shuffle keys on the same id so the join is co-partitioned with the
aggregations, and the piece-delete join reuses the destination listing
without exploding any collected list. DuckDB-replayable end to end: the
key is hex SHA-256 over a ``chr(31)``-delimited string (an injective
re-encoding of the reference's binary-mtime + urlsafe-b64 form; Spark
``sha2(s, 256)`` and DuckDB ``sha256(s)`` both emit lowercase hex).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sycamore_spark.functions.partitioning import lineage_cut

_SEP = "\x1f"


def sync_key(mtime: Column, part_ids: Column) -> Column:
    """The split-aware sorted-hash load key (reference
    ``calculate_doc_key``, sync.py:140-146): SHA-256 over the group mtime
    and the SORTED piece ids, so any change to the piece set — a missing
    piece, an extra piece, edited content under content-hash piece ids, or
    a changed mtime — changes the key, while piece ORDER does not.
    ``part_ids`` is an ``array<string>`` column; returns lowercase hex."""
    return F.sha2(
        F.concat_ws(
            _SEP, mtime.cast("string"), F.array_join(F.sort_array(part_ids), _SEP)
        ),
        256,
    )


def store_sync(
    source: DataFrame,
    dest: DataFrame,
    source_md: DataFrame | None = None,
    id_col: str = "doc_id",
    mtime_col: str = "mtime",
    key_col: str = "sync_key",
    dest_id_col: str = "doc_id",
    dest_parent_col: str = "parent_id",
    dest_mtime_col: str = "doc_mtime",
) -> DataFrame:
    """Compute the reload/purge plan that reconciles a destination store
    with a source snapshot (reference ``OpenSearchSync.sync``,
    sync.py:174-231, generalized to any pair of listings).

    ``source``: one row per source document — (``id_col``, ``mtime_col``).
    ``source_md``: the recorded load-time metadata — (``id_col``,
    ``mtime_col``, ``key_col``) — one row per COMPLETED load (the
    reference's ``oss-<id>,<mtime>,<key>.md`` marker files as a DataFrame);
    ``None`` means no load ever completed. ``dest``: one row per
    destination piece — (``dest_id_col``, nullable ``dest_parent_col``,
    nullable ``dest_mtime_col``); pieces group under
    ``coalesce(parent_id, doc_id)``.

    Returns one row per reconciliation unit:

    - ``kind='doc'`` — one per source document, ``status`` ∈
      {``missing_md_info``, ``missing_os_record``, ``mismatch_key``,
      ``correctly_loaded``}, ``action`` ∈ {``load``, ``none``}, and
      ``stale_md`` true when exactly one metadata record existed but its
      mtime no longer matches the source file.
    - ``kind='piece'`` — one per destination piece to purge, ``status`` ∈
      {``only_in_os``, ``mismatch_key``}, ``action='delete'``.

    Columns: (sync_id, kind, status, action, stale_md).
    """
    src = source.select(
        F.col(id_col).cast("string").alias("_sid"),
        F.col(mtime_col).cast("long").alias("_smt"),
    )
    if source_md is not None:
        md = source_md.groupBy(F.col(id_col).cast("string").alias("_mid")).agg(
            F.count(F.lit(1)).alias("_n_md"),
            F.max(F.col(mtime_col).cast("long")).alias("_md_mt"),
            F.max(F.col(key_col)).alias("_md_key"),
        )
        src = src.join(md, src["_sid"] == md["_mid"], "left").drop("_mid")
    else:
        src = (
            src.withColumn("_n_md", F.lit(None).cast("long"))
            .withColumn("_md_mt", F.lit(None).cast("long"))
            .withColumn("_md_key", F.lit(None).cast("string"))
        )
    # a record is authoritative only when it is UNIQUE and its mtime still
    # matches the file (reference find_source_files cleanup, sync.py:284-301:
    # duplicate and stale records are discarded before classification)
    src = src.withColumn(
        "_md_valid",
        (F.col("_n_md") == 1) & (F.col("_md_mt") == F.col("_smt")),
    ).withColumn(
        "_stale_md",
        F.coalesce(
            (F.col("_n_md") == 1) & (F.col("_md_mt") != F.col("_smt")), F.lit(False)
        ),
    )

    pid = F.coalesce(
        F.col(dest_parent_col).cast("string"), F.col(dest_id_col).cast("string")
    )
    pieces = dest.select(
        pid.alias("_pid"),
        F.col(dest_id_col).cast("string").alias("_did"),
        F.col(dest_mtime_col).cast("long").alias("_dmt"),
    )
    groups = pieces.groupBy("_pid").agg(
        F.collect_list("_did").alias("_parts"),
        F.count(F.col("_dmt")).alias("_n_mt"),
        F.max("_dmt").alias("_mt_max"),
    )
    # zero or duplicate piece mtimes key as -1 (reference sync.py:376-388)
    eff_mt = F.when(F.col("_n_mt") == 1, F.col("_mt_max")).otherwise(F.lit(-1))
    groups = groups.select(
        "_pid", sync_key(eff_mt, F.col("_parts")).alias("_dest_key")
    )

    # the reconciliation frame feeds BOTH outputs (doc rows and the purge
    # pid set) — checkpoint it once so the two aggregations + full-outer
    # join don't re-execute per branch; it is metadata-scale (one row per
    # document id, no payloads) by the algorithm's listing contract
    j = lineage_cut(src.join(groups, src["_sid"] == groups["_pid"], "full_outer"))
    doc_status = (
        F.when(~F.coalesce(F.col("_md_valid"), F.lit(False)), F.lit("missing_md_info"))
        .when(F.col("_pid").isNull(), F.lit("missing_os_record"))
        .when(F.col("_md_key") == F.col("_dest_key"), F.lit("correctly_loaded"))
        .otherwise(F.lit("mismatch_key"))
    )
    docs = j.filter(F.col("_sid").isNotNull()).select(
        F.col("_sid").alias("sync_id"),
        F.lit("doc").alias("kind"),
        doc_status.alias("status"),
        F.when(doc_status == "correctly_loaded", F.lit("none"))
        .otherwise(F.lit("load"))
        .alias("action"),
        F.col("_stale_md").alias("stale_md"),
    )
    # pids whose current pieces must be purged: groups with no source doc
    # (only_in_os) and groups behind a key mismatch (deleted before reload,
    # reference ProcessBatch.run sync.py:440-456)
    del_pids = j.filter(
        F.col("_pid").isNotNull()
        & (F.col("_sid").isNull() | (doc_status == F.lit("mismatch_key")))
    ).select(
        "_pid",
        F.when(F.col("_sid").isNull(), F.lit("only_in_os"))
        .otherwise(F.lit("mismatch_key"))
        .alias("_reason"),
    )
    piece_rows = pieces.join(del_pids, "_pid").select(
        F.col("_did").alias("sync_id"),
        F.lit("piece").alias("kind"),
        F.col("_reason").alias("status"),
        F.lit("delete").alias("action"),
        F.lit(False).alias("stale_md"),
    )
    return docs.unionByName(piece_rows)


def assign_piece_ids(
    pieces: DataFrame,
    parent_col: str = "parent_id",
    pos_col: str = "pos",
    payload_col: str = "payload",
    id_col: str = "doc_id",
) -> DataFrame:
    """The LOAD-side id assignment that makes ``store_sync`` work
    (reference ``ProcessBatch.split_doc``, sync.py:468-518): after a
    splitter explodes a document into pieces, the piece at position 0
    keeps the parent's id (the "original" document, parent_id NULL in the
    destination) and every later piece gets a CONTENT-HASH id —
    SHA-256 over ``parent/pos/payload`` — so identical content at the
    same position hashes to the same id across reloads (an unchanged
    reload is a no-op upsert) while any content or position change mints
    a new id (and thereby changes the parent's sorted-hash key, which is
    exactly what triggers the reconciler). Position is in the hash so
    duplicate payloads at different positions stay distinct
    (reference sync.py:41-42).

    Input: one row per piece — (``parent_col``, ``pos_col`` 0-based,
    ``payload_col`` already serialized to a deterministic string).
    Returns the input plus ``id_col``. Pure narrow projection.
    """
    hashed = F.sha2(
        F.concat_ws(
            "/",
            F.col(parent_col).cast("string"),
            F.col(pos_col).cast("string"),
            F.col(payload_col),
        ),
        256,
    )
    return pieces.withColumn(
        id_col,
        F.when(F.col(pos_col) == 0, F.col(parent_col).cast("string")).otherwise(
            F.concat(F.lit("splitdoc-"), hashed)
        ),
    )


def load_keys(
    pieces: DataFrame,
    parent_col: str = "parent_id",
    id_col: str = "doc_id",
    mtime_col: str = "mtime",
) -> DataFrame:
    """The sync-metadata records a completed load writes (reference
    ``split_doc``'s ``psw['key']`` + ``handle_index_success``'s marker
    file, sync.py:517,594): per parent, the ``sync_key`` over its mtime
    and the SORTED piece ids — the table ``store_sync`` takes as
    ``source_md``. One hash agg."""
    return pieces.groupBy(
        F.col(parent_col).cast("string").alias("doc_id")
    ).agg(
        F.max(F.col(mtime_col).cast("long")).alias("mtime"),
        sync_key(
            F.max(F.col(mtime_col).cast("long")),
            F.collect_list(F.col(id_col).cast("string")),
        ).alias("sync_key"),
    )


def sync_stats(plan: DataFrame) -> DataFrame:
    """Roll a ``store_sync`` plan up to the reference's ``SyncStats``
    counters (sync.py:631-642): one row per (kind, status) with the unit
    count and how many of those carried a stale metadata record. One
    hash agg over the metadata-scale plan."""
    return plan.groupBy("kind", "status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("stale_md").cast("long")).alias("n_stale_md"),
    )

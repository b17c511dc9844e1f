"""Index-driven curation actions: apply dedup decisions back to the
CDC-maintained lake table, with attached views kept consistent.

This closes the loop the curation indexes open: replay maintains the
exact-dup fingerprint index (views.fingerprint_index_view) at O(batch);
``dedup_sweep`` reads THE INDEX — a few narrow columns, never the token
arrays — to pick victims, and deletes them from the main table through the
SAME net-change contract the CDC path uses, so every attached view
(including the index itself, and the pack index whose shards the deletions
re-pack) applies the identical deletes and stays consistent.

Reference shape: Canal's adapters only ship changes; the curation action is
the training-data mandate's addition — but the apply mechanics deliberately
reuse the merge/fence/ledger contract (table/lake.py merge_apply) instead of
growing a second write path.

Scale: the victim scan is one groupBy over the index (narrow), the D-row
build is a semi-join against the main table pruned to victim keys, and the
MERGE itself is the usual file-pruned commit — cost is O(index) + O(victims),
never O(corpus token bytes).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from canal_spark.pipeline import merge_with_views
from canal_spark.table.lake import LakeTable


def _delete_keys(table: LakeTable, victims, views=(),
                 batch_id: str | None = None) -> dict:
    """Tombstone ``victims`` (a one-column DF of ``table.key_col`` values)
    through the CDC net-change contract: D-rows stamped ``base~s`` above
    each victim's OWN current LSN, applied to the main table and every
    attached view from one persisted victim scan."""
    key = table.key_col
    from canal_spark.lsn import ZERO_LSN

    floor_lsn = F.coalesce(
        F.nullif(F.col("_source_lsn"), F.lit("")), F.lit(ZERO_LSN))
    data_cols = [c for c in table.logical_columns() if c != key]
    types = table.schema()
    net = (
        table.read_raw()
        .where(~F.coalesce(F.col("_deleted"), F.lit(False)))
        .join(victims, key, "leftsemi")
        .select(
            F.col(key),
            *[F.lit(None).cast(types[c].dataType).alias(c) for c in data_cols],
            F.lit("D").alias("op"),
            F.concat(floor_lsn, F.lit("~s")).alias("lsn"),
        )
    )
    # one victim scan feeds the main merge AND every view
    return merge_with_views(net, table, list(views), batch_id, None)


def dedup_sweep(table: LakeTable, index: LakeTable, views=(),
                batch_id: str | None = None) -> dict:
    """Delete exact duplicates from ``table``: group the fingerprint index
    by ``fp_md5``, keep the MIN key per group, tombstone the rest.

    Victim D-rows are stamped just above each victim's OWN current
    ``_source_lsn`` (``base~s`` — '~s' sorts after the '~d' dim-refresh and
    '~p{n}' re-pack stamps of the same base, and before any later real
    fixed-width LSN), so the sweep wins against exactly the state it read:
    a later CDC event for the same key replayed afterwards still wins and
    legitimately resurrects the doc. Re-running the sweep is a no-op
    (victims are already tombstoned, so no live row groups > 1).

    ``views``: the same view objects attached to replay — they receive the
    identical net D-rows, so the fingerprint index drops the victims and
    the pack index re-packs their shards in the same pass.
    """
    key = table.key_col
    idx = index.refresh().read().where(F.col("fp_md5").isNotNull())
    keeper = idx.groupBy("fp_md5").agg(F.min(key).alias("_keep"))
    victims = (
        idx.join(keeper, "fp_md5")
        .where(F.col(key) != F.col("_keep"))
        .select(key)
    )
    return _delete_keys(table, victims, views, batch_id)


def _verified_pairs(table: LakeTable, band_view,
                    threshold_bp: int) -> "DataFrame":
    """Shared verification pipeline for the index-driven near-dup sweeps:
    candidate pairs from the CDC-maintained band index's bucket collisions
    (O(index), never corpus²), exact-signature agreement recomputed over
    ONLY the candidate docs (O(candidates)), thresholded in basis points.
    Returns (id_a, id_b)."""
    from canal_spark.functions.dedup import banded_signatures

    key = table.key_col
    cand = band_view.candidate_pairs()
    ids = (cand.select(F.col("id_a").alias(key))
           .union(cand.select(F.col("id_b").alias(key))).distinct())
    docs = (
        table.read()
        .join(ids, key, "leftsemi")
        .select(F.col(key),
                F.array_join(F.col(band_view.tokens_col), " ").alias("_txt"))
    )
    sigs = (
        banded_signatures(docs, id_col=key, text_col="_txt", n=band_view.n,
                          num_hashes=band_view.num_hashes,
                          bands=band_view.bands)
        .select("id", "sig").dropDuplicates(["id"])
    )
    match_bp = F.floor(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda eq: eq)) * 10000 / band_view.num_hashes
    ).cast("long")
    return (
        cand
        .join(sigs.select(F.col("id").alias("id_a"),
                          F.col("sig").alias("sig_a")), "id_a")
        .join(sigs.select(F.col("id").alias("id_b"),
                          F.col("sig").alias("sig_b")), "id_b")
        .where(match_bp >= threshold_bp)
        .select("id_a", "id_b")
    )


def near_dedup_sweep(table: LakeTable, band_view, threshold_bp: int = 9000,
                     views=(), batch_id: str | None = None) -> dict:
    """Near-dup sweep off the CDC-maintained MinHash-LSH band index
    (views.MinhashBandIndexView): verified pairs from ``_verified_pairs``,
    and each verified pair's GREATER key is deleted — a deterministic rule
    both engines reproduce bit-for-bit (the md5-portable hash family makes
    the DuckDB oracle's banding, estimates and victim set identical).
    Pairwise victim-picking can keep several mutual near-dups alive; use
    :func:`cluster_dedup_sweep` for one-survivor-per-cluster.

    ``views`` should include ``band_view`` itself so the index drops the
    victims' band rows in the same pass. The '~s' fence semantics match
    :func:`dedup_sweep`: re-sweep is a no-op, later CDC events resurrect.
    """
    key = table.key_col
    verified = _verified_pairs(table, band_view, threshold_bp)
    victims = verified.select(F.col("id_b").alias(key)).distinct()
    return _delete_keys(table, victims, views, batch_id)


def cluster_dedup_sweep(table: LakeTable, band_view, threshold_bp: int = 9000,
                        views=(), batch_id: str | None = None) -> dict:
    """Transitive near-dup sweep: like :func:`near_dedup_sweep` but victims
    come from CONNECTED COMPONENTS over the verified pairs — exactly one
    survivor (the min key) per duplicate cluster. Pairwise victim-picking
    can leave several mutual near-dups alive (pairs (a,c),(b,c) delete only
    c); the component fold closes that hole, which is the shape production
    corpus dedup actually wants. The component fold runs on the verified
    PAIRS (tiny) — never the corpus."""
    from canal_spark.functions.dedup import connected_component_labels

    key = table.key_col
    verified = _verified_pairs(table, band_view, threshold_bp)
    labels = connected_component_labels(verified)
    victims = (labels.where(F.col("id") != F.col("lbl"))
               .select(F.col("id").alias(key)))
    return _delete_keys(table, victims, views, batch_id)

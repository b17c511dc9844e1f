"""Continuous table→table sync off a LakeTable changelog feed.

The reference's primary consumption loop is a client that pulls change
batches with positions and acks to advance — CanalServerWithEmbedded
getWithoutAck/ack (server/.../CanalServerWithEmbedded.java:331-446), with
the MQ workers (server/.../CanalMQStarter.java:152-216) running the same
get → deliver → ack cycle. This module rebuilds that loop on the lake:

- the *server* is any LakeTable created with ``changelog=True`` — every
  merge commit lands its net batch under ``changelog/``;
- the *client* is ``relay_step``: pull the feed for versions
  (ack, head], LWW-collapse, MERGE into the downstream table.

The ack position is not stored beside the data — it IS the data commit:
the batch id ``relay/v{head}`` rides the downstream table's exactly-once
ledger, so the ack advances atomically with the rows it acknowledges.
A crash before the commit re-pulls the same range on resume and the
ledger + per-key LSN fence turn the redelivery into a no-op — the same
ack-after-apply contract the reference keeps in its meta manager
(meta/.../FileMixedMetaManager.java cursor persistence).

Scale: each poll reads only the changelog files of the pulled versions
(O(batch), never the table), and the MERGE cost is the downstream
table's normal bucket-pruned apply.
"""

from __future__ import annotations

from canal_spark.operators.lww import collapse_lww
from canal_spark.table.lake import LakeTable

RELAY_PREFIX = "relay"


class FeedRetentionGapError(RuntimeError):
    """A relay's ack trails the feed's expired high-water mark: entries it
    still needed were already dropped (e.g. an unnamed relay sharing a feed
    with registered consumers whose min ack passed it, or a ``force=True``
    expiry). Silently fast-forwarding would be silent data loss — the
    consumer must ``subscribe()`` (snapshot backfill + re-position) or
    ``register_consumer`` at an explicit live position instead. The
    reference raises the same way when a client's position has left the
    ring buffer (store/.../MemoryEventStoreWithBuffer.java ack-position
    checks)."""


def acked_version(dst: LakeTable, prefix: str = RELAY_PREFIX) -> int:
    """The relay's resume position: the durable ``relay_acks`` snapshot
    field, max'd with a scan of the exactly-once ledger's ``{prefix}/v{N}``
    batch ids. The ledger alone is NOT durable enough — it keeps the last
    LEDGER_KEEP (256) batch ids, so a relay idle across >256 downstream
    commits would lose its position and re-pull the whole feed from v0
    (correct under the LSN fence, but O(feed) instead of O(batch)); the
    snapshot field survives eviction, and taking the max keeps resume
    correct if a crash lands between the data commit and the ack meta
    commit (the reference persists its cursor after apply the same way,
    meta/.../FileMixedMetaManager.java)."""
    mx = int(dst.snap.get("relay_acks", {}).get(prefix, 0))
    for b in dst.snap.get("applied_batches", []):
        if b.startswith(f"{prefix}/v"):
            try:
                mx = max(mx, int(b.rsplit("v", 1)[1]))
            except ValueError:
                pass
    return mx


def _record_ack(dst: LakeTable, prefix: str, head: int) -> None:
    """Advance the durable ack (monotonic; one metadata-only commit)."""
    acks = dict(dst.snap.get("relay_acks", {}))
    if int(acks.get(prefix, 0)) < head:
        acks[prefix] = head
        dst._commit_meta(relay_acks=acks)


# --------------------------------------------------------------- consumers
# The reference keeps per-DESTINATION cursors on the server side (meta per
# destination, server/.../CanalServerWithEmbedded.java:191-222 subscribe/
# get/ack each take a ClientIdentity; meta/.../FileMixedMetaManager.java
# persists one cursor per destination+client — SEPARATE from the data).
# The lake analog: a named consumer registry beside the feed —
# ``{src.path}/consumers/{name}.json`` holding the consumer's last acked
# feed version (``LakeTable.set_consumer_ack``/``consumer_acks``) — so N
# independent consumers share one feed and the feed's retention is
# governed by the SLOWEST ack, not any single relay. The
# registry deliberately lives OUTSIDE the snapshot chain: an ack is a
# cursor, not table state, and recording it as a snapshot commit would
# bump ``src.version`` on every poll — each consumer's ack would look like
# "new upstream work" to every OTHER consumer and idle relays would wake
# each other forever.


def register_consumer(src: LakeTable, name: str, ack: int | None = None) -> int:
    """Register (or re-position) a named consumer on the source feed — the
    reference's ``subscribe`` (CanalServerWithEmbedded.java:191-222).

    ``ack=None`` registers at the feed's retention floor: a brand-new
    consumer starts at 0 only if the feed still holds v1 (nothing expired);
    otherwise it must start just below the oldest retained version —
    versions before that are gone, so claiming them would silently skip
    data. Returns the registered ack position. Registration is what makes
    the consumer count toward ``expire_acked``'s min — an unregistered
    relay gives the feed no reason to retain anything for it."""
    src.refresh()
    if ack is None:
        retained = [int(v) for v in src.snap.get("changelog", {})]
        ack = min(retained) - 1 if retained else src.version
    src.set_consumer_ack(name, int(ack))
    return int(ack)


def _record_consumer_ack(src: LakeTable, name: str, head: int) -> None:
    """Advance a named consumer's source-side ack (monotonic). Written
    AFTER the destination's data commit, so a crash in between leaves the
    src ack behind — the re-pull is a ledger no-op."""
    if src.consumer_acks().get(name, 0) < head:
        src.set_consumer_ack(name, head)


def feed_status(src: LakeTable) -> dict:
    """Metadata-only feed observability (the reference's per-destination
    cursor/lag gauges, prometheus/.../impl/*.java): head version, retained
    feed window, and per-consumer ack + version lag."""
    src.refresh()
    retained = sorted(int(v) for v in src.snap.get("changelog", {}))
    head = src.version
    acks = src.consumer_acks()
    return {
        "head": head,
        "retained_versions": retained,
        "consumers": {name: {"ack": ack, "lag_versions": head - ack}
                      for name, ack in sorted(acks.items())},
    }


def subscribe(src: LakeTable, dst: LakeTable, consumer: str) -> int:
    """A NEW consumer joins a live feed: snapshot-backfill the destination
    from the source's current state, then register the consumer's ack AT
    that snapshot version — churn after the snapshot arrives via
    ``relay_step(consumer=...)``. This is the reference's client bootstrap
    (full ETL import, client-adapter/common/.../AbstractEtlService.java,
    followed by incremental sync from the subscription position)."""
    from pyspark.sql import functions as F

    src.refresh()
    head = src.version
    snap_df = src.read()
    cols = dst.logical_columns()
    dtypes = dst.schema()
    dst.overwrite(snap_df.select(
        *[F.col(c).cast(dtypes[c].dataType).alias(c) if c in snap_df.columns
          else F.lit(None).cast(dtypes[c].dataType).alias(c) for c in cols]),
        batch_id=f"subscribe/{consumer}/v{head:08d}")
    # carry the source's truncate fence into the subscriber METADATA-ONLY:
    # the snapshot already reflects every historical TRUNCATE, but a fresh
    # dst has truncate_lsn '' — the first relay poll's fence mirror would
    # see src_trunc > '' and dst.truncate() the entire backfill away, then
    # only ever redeliver post-subscription churn (code-review r04 finding
    # #1: every unchanged row silently missing forever)
    src_trunc = src.snap.get("truncate_lsn", "")
    if src_trunc:
        dst.refresh()._commit_meta(truncate_lsn=src_trunc)
    return register_consumer(src, consumer, ack=head)


def relay_step(src: LakeTable, dst: LakeTable,
               prefix: str = RELAY_PREFIX,
               consumer: str | None = None,
               expire_acked: bool = False) -> dict:
    """One poll of the client loop: get (ack, head] → apply → ack.

    Mirrors upstream schema evolution before applying — from the SOURCE
    SNAPSHOT, the authority on the live schema (the adapters' DDL
    mirroring, client-adapter/rdb/.../RdbMirrorDbSyncService.java:50-90):
    columns the source has and the mirror lacks become ADD COLUMNs,
    columns the mirror has and the source dropped become DROP COLUMNs
    (both metadata-only). The feed's own columns can't drive this — a
    slice straddling an upstream ADD/DROP carries the UNION of its
    commits' schemas (mergeSchema), so feed-missing columns NULL-fill and
    feed-extra columns (values for a column the source has since dropped)
    fall away with the drop, exactly matching the source's final state.
    Found by probe: inferring ADDs from feed columns and selecting every
    mirror column from the feed crashed the poll loop permanently on the
    first post-DROP slice (AnalysisException on the dropped column, ack
    never advances). Also propagates a metadata TRUNCATE fence the feed
    cannot carry.

    ``consumer``: a name in the SOURCE's consumer registry (the reference's
    per-destination client identity). Named relays record their ack on the
    source snapshot too, so ``expire_acked`` can free the feed at the
    MINIMUM over all registered consumers instead of this relay's own head
    — N independent consumers of one feed, each at its own cadence, with
    retention governed by the slowest (FileMixedMetaManager's per-
    destination cursors). First use auto-registers at the feed's retention
    floor; use ``register_consumer``/``subscribe`` to position explicitly.

    ``expire_acked``: after a successful apply, drop consumed feed files —
    up to min(all registered consumer acks) when ``consumer`` is set, else
    up to this relay's own head (single-consumer deployments; the reference
    frees acked events from its ring buffer the same way,
    store/.../MemoryEventStoreWithBuffer.java:463-519).
    """
    src.refresh()
    dst.refresh()
    ack = acked_version(dst, prefix)
    if consumer is not None:
        if consumer not in src.consumer_acks():
            register_consumer(src, consumer)
        # the src-side ack is written only after the dst data commit, so it
        # never leads the dst ledger; max() just skips an already-consumed
        # range faster after dst-ledger eviction
        ack = max(ack, src.consumer_acks().get(consumer, 0))
    head = src.version

    # TRUNCATE is a metadata commit — invisible to the row feed by design;
    # the fence LSN is what keeps late pre-truncate rows dead downstream
    src_trunc = src.snap.get("truncate_lsn", "")
    if src_trunc and src_trunc > dst.snap.get("truncate_lsn", ""):
        dst.truncate(lsn=src_trunc)

    if head <= ack:
        if consumer is not None:
            # repair a src-side cursor that trails the dst ledger (a crash
            # landed between the data commit and the ack write)
            _record_consumer_ack(src, consumer, ack)
        return {"applied": False, "ack": ack, "head": head}

    # retention-gap guard (ADVICE r05 #3): entries in (ack, expired_upto]
    # were dropped before this relay consumed them — fast-forwarding (the
    # metadata fast path below would happily do it) is silent data loss.
    # Named consumers registered via register_consumer/subscribe start at
    # the retention floor or the snapshot head, so they only hit this after
    # a force-expiry or a deleted cursor — both operator actions that
    # SHOULD surface loudly.
    expired_upto = int(src.snap.get("changelog_expired_upto", 0))
    if ack < expired_upto:
        raise FeedRetentionGapError(
            f"feed entries (v{ack}, v{expired_upto}] were expired before "
            f"this relay (prefix={prefix!r}, consumer={consumer!r}) "
            f"consumed them — subscribe() to snapshot-backfill and "
            f"re-position, or register_consumer at a live position")

    src_types = {f.name: f.dataType for f in src.schema().fields}
    for name, dtype in src_types.items():
        if name not in dst.logical_columns():
            dst.alter_add_column(name, dtype)
    for name in list(dst.logical_columns()):
        if name not in src_types and name != dst.key_col:
            dst.alter_drop_column(name)

    from pyspark.sql import functions as F

    # fast path: metadata-only upstream commits (expiry, another relay's
    # bookkeeping, DDL already mirrored above) leave no feed entries in
    # (ack, head] — advance the cursors without launching a merge job, and
    # report idle so poll loops don't treat it as progress
    if not any(ack < int(v) <= head for v in src.snap.get("changelog", {})):
        _record_ack(dst, prefix, head)
        if consumer is not None:
            _record_consumer_ack(src, consumer, head)
        return {"applied": False, "ack": head, "head": head}

    feed = src.read_changes(since_version=ack, until_version=head)
    net = collapse_lww(feed.drop("_commit_version"), key=dst.key_col)
    cols = dst.logical_columns()
    dtypes = dst.schema()
    net = net.select(
        *[F.col(c) if c in net.columns
          else F.lit(None).cast(dtypes[c].dataType).alias(c) for c in cols],
        "op", "lsn")
    res = dst.merge_apply(net, batch_id=f"{prefix}/v{head:08d}")
    _record_ack(dst, prefix, head)
    if consumer is not None:
        _record_consumer_ack(src, consumer, head)
    if expire_acked and not res.get("skipped"):
        # expire_changelog itself clamps to the slowest REGISTERED ack —
        # the slowest consumer governs retention (the reference's ring
        # buffer frees on the slowest client's ack the same way); an
        # unnamed single-consumer relay (no registry) frees its own head
        src.expire_changelog(upto_version=head)
    return {"applied": not res.get("skipped", False), "ack": head,
            "head": head, **{k: v for k, v in res.items() if k != "skipped"}}


def relay_until_idle(src: LakeTable, dst: LakeTable,
                     prefix: str = RELAY_PREFIX,
                     consumer: str | None = None,
                     expire_acked: bool = False,
                     max_polls: int = 1000) -> list[dict]:
    """Poll until the downstream has acked the upstream head (a drained
    feed), like the MQ worker loop draining its store. Returns the per-poll
    stats; a live deployment would run the same call under any scheduler
    tick instead of a tight loop."""
    out: list[dict] = []
    for _ in range(max_polls):
        r = relay_step(src, dst, prefix=prefix, consumer=consumer,
                       expire_acked=expire_acked)
        out.append(r)
        if not r["applied"]:
            break
    return out

"""Chain-reorg rewind: bucket-scoped state rollback + fence reset, as
one atomic commit.

The reference corrects a bad day the blunt way: re-export the block
range and delete-insert the whole date partition (``merge_blocks.sql``
``when not matched by source and date(timestamp)='{{ds}}' then
delete``, plus the amend DAG's override seeds). The CDC engine's
analogue is a *reorg*: the source chain abandons blocks above height S,
so every change event with ``seq > S`` the table already applied is
invalid, and corrected events for the same range will arrive. LWW
cannot out-bid the invalid rows (their ``_seq`` is by definition the
highest for their keys), so the fix is physical, not logical:

* find the snapshot ``v`` that holds the state as of the last valid
  batch (the ingest app's epoch fence property at ``v`` ≤ the rewind
  epoch);
* collect the buckets touched by every later commit (manifest lineage
  — O(commits), no data read);
* commit the byte-identical file contents those buckets had AT ``v``
  as a ``replace_buckets`` rewrite, with the ingest app's epoch fence
  moved BACK to the rewind epoch in the same atomic commit.

After the rewind, re-running the tailer over the corrected feed
re-applies batches ``k+1..`` through the normal exactly-once path (the
fence was reset transactionally with the data). The rewind itself is a
recorded commit — time travel across the reorg still works, nothing is
orphaned, and unaffected buckets keep their files untouched.

Caveat (documented, matching the engine's single-writer main path): a
rewind reverts ALL commits above ``v`` in the affected buckets,
including any interleaved from other app_ids — the tailer owns main.

Reference parity: merge_blocks.sql partition-scoped delete-insert;
ethereum_amend_dag.py correction flow; SURVEY §2.7 M1 idempotent
overwrite + M2 upsert.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ethereum_etl_airflow_spark.sinks.snapshot_table import SnapshotTable, bucket_expr


def rewind_to_epoch(table: SnapshotTable, app_id: str, epoch: int) -> dict | None:
    """Rewind ``table`` to its state as of ``app_id``'s batch ``epoch``
    and reset the app's fence to it, atomically. Returns commit info,
    or None when the table is already at (or before) that epoch.

    Raises ``ValueError`` when no retained snapshot carries a fence
    ≤ ``epoch`` for the app (the rewind base has been expired — at that
    point only a full re-bootstrap can recover).
    """
    head_v = table.current_version()
    if head_v < 0 or table.last_epoch(app_id) <= epoch:
        return None

    key = f"last_epoch:{app_id}"
    base_v = None
    v = head_v
    while v >= 0:  # ancestry walk (branch versions share the number space)
        try:
            snap = table.snapshot(v)
        except FileNotFoundError:
            break  # older snapshots expired
        if int(snap["properties"].get(key, -1)) <= epoch:
            base_v = v
            break
        v = int(snap.get("parent_version", -1))
    if base_v is None:
        raise ValueError(
            f"no retained snapshot at or before epoch {epoch} for {app_id!r}; "
            "rewind base expired — re-bootstrap required"
        )

    return _revert_to_base(table, app_id, base_v, head_v, epoch)


def rewind_to_seq(table: SnapshotTable, app_id: str, seq: int) -> dict | None:
    """Chain-height rewind: roll back every applied change event with
    ``seq`` above the given chain position — the STREAM-MODE reorg
    entry point. ``rewind_to_epoch`` addresses feed-batch epochs (the
    replay unit); a stream's epochs are Spark checkpoint batchIds that
    do not map to chain heights, but every CDC commit's manifest
    records its added files' footer ``_seq`` ranges (the per-file skip
    index doubling as source-offset lineage), and feed batches are
    seq-ordered, so the invalid commits form a suffix of the cdc_apply
    chain. The base is the parent of the LOWEST invalid commit; all of
    the app's epoch fences (replay + every stream namespace) restore to
    their base values in the same atomic commit, and the stream
    generation bumps so ``run_stream`` rotates its checkpoint.

    Returns None when no applied event exceeds ``seq``; raises
    ``ValueError`` when the base snapshot has been expired."""
    head_v = table.current_version()
    if head_v < 0:
        return None
    lowest_bad = None
    v = head_v
    while v >= 0:
        try:
            snap = table.snapshot(v)
        except FileNotFoundError:
            break  # older snapshots expired
        lin = snap.get("lineage") or {}
        if lin.get("op") == "cdc_apply":
            max_seq = _commit_max_seq(table, snap)
            if max_seq is not None and int(max_seq) > seq:
                lowest_bad = v
            elif max_seq is not None:
                # feed batches are seq-ordered: the first valid cdc
                # commit bounds the walk — everything below it is valid
                break
        v = int(snap.get("parent_version", -1))
    if lowest_bad is None:
        return None
    base_v = int(table.snapshot(lowest_bad)["parent_version"])
    if base_v >= 0:
        try:
            table.snapshot(base_v)
        except FileNotFoundError:
            raise ValueError(
                f"rewind base v{base_v} (below seq {seq}) expired — "
                "re-bootstrap required"
            ) from None
    else:
        raise ValueError(
            f"every retained commit holds events above seq {seq} — "
            "re-bootstrap required"
        )
    base_props = table.snapshot(base_v)["properties"]
    head_props = table.snapshot(head_v)["properties"]
    # restore EVERY fence namespace of this app (replay key is handled
    # by the commit's epoch argument; stream generations restore here —
    # keys the base never saw drop to -1)
    prefix = f"last_epoch:{app_id}:"
    fences = {
        k: int(base_props.get(k, -1))
        for k in head_props
        if k.startswith(prefix)
    }
    epoch = int(base_props.get(f"last_epoch:{app_id}", -1))
    info = _revert_to_base(
        table, app_id, base_v, head_v, epoch, extra_props=fences, seq=seq
    )
    info["restored_epoch"] = epoch
    return info


def _commit_max_seq(table: SnapshotTable, snap: dict) -> int | None:
    """Highest ``_seq`` a CDC commit applied, from the manifest alone:
    max over the commit's own added files' footer seq ranges
    (``file_seq_ranges``, recorded at commit time); a CDC commit only
    adds its batch's rows. Legacy manifests without ``added_files``
    diff against the retained parent; None = no data added
    (property-only commit) or no range evidence."""
    ranges = snap.get("file_seq_ranges") or {}
    added = snap.get("added_files")
    if added is None:
        parent_v = int(snap.get("parent_version", -1))
        if parent_v < 0:
            prev: set[str] = set()
        else:
            try:
                parent = table.snapshot(parent_v)
            except FileNotFoundError:
                # diffing against nothing would credit EVERY live file
                # to this commit and misclassify it as invalid — fail
                # honestly instead (mirrors cdf_source's expired-parent
                # contract)
                raise ValueError(
                    f"commit v{snap['version']} predates added_files and "
                    f"its parent v{parent_v} is expired — cannot bound "
                    "its seq range; use rewind_to_epoch"
                ) from None
            prev = {f for fs in parent["bucket_files"].values() for f in fs}
        added = {
            b: [f for f in fs if f not in prev]
            for b, fs in snap["bucket_files"].items()
        }
    # a multi-bucket (L0) file is listed under every bucket it holds
    files = {f for fs in added.values() for f in fs}
    maxes = [int(ranges[f][1]) for f in files if f in ranges]
    n_added = len(files)
    if n_added and not maxes:
        # ADVICE r4: a cdc_apply commit that ADDED data files but has
        # zero seq-range coverage (e.g. the commit-time footer-stats
        # collection failed) must not be silently treated as valid —
        # above-seq events inside it would survive the rewind. Raise so
        # the operator falls back to rewind_to_epoch.
        raise ValueError(
            f"cdc_apply commit v{snap['version']} added {n_added} files "
            "with no footer seq-range evidence — cannot bound its seq "
            "range; use rewind_to_epoch"
        )
    return max(maxes, default=None)


def _revert_to_base(
    table: SnapshotTable,
    app_id: str,
    base_v: int,
    head_v: int,
    epoch: int,
    extra_props: dict | None = None,
    seq: int | None = None,
) -> dict:
    """Shared rewind tail: restore the affected buckets' base-version
    file contents and move the app's fence back, in ONE atomic commit."""
    base = table.snapshot(base_v)
    head = table.snapshot(head_v)
    # bump the app's STREAM GENERATION in the same atomic commit: the
    # file-source checkpoint of run_stream remembers seen paths, so
    # corrected batch dirs that reuse orphaned paths would be silently
    # skipped — the generation counter makes run_stream rotate to a
    # fresh checkpoint subdir + fence namespace automatically (the LWW
    # fold keeps the forced re-read idempotent)
    gen_key = f"stream_gen:{app_id}"
    # ADVICE r4: only bump for apps that actually stream — a bump makes
    # the next run_stream rotate to a fresh checkpoint and re-read the
    # ENTIRE feed dir (O(full-feed) I/O; idempotent but expensive).
    # Evidence of streaming: a stream fence namespace
    # (last_epoch:<app>:stream[...]) or a prior generation counter.
    streams = any(
        k.startswith(f"last_epoch:{app_id}:stream") for k in head["properties"]
    ) or gen_key in head["properties"]
    props = (
        {gen_key: int(head["properties"].get(gen_key, 0)) + 1} if streams else {}
    )
    props.update(extra_props or {})
    lineage_base = {
        "op": "reorg_rewind",
        "base_version": base_v,
        "head_version": head_v,
        **({"rewind_seq": seq} if seq is not None else {}),
    }
    if base.get("num_buckets") != head.get("num_buckets"):
        # a rebucket happened above the base: bucket ids are
        # layout-relative, so revert every bucket (full replace)
        affected = set(range(head["num_buckets"]))
    else:
        # ancestry walk, not the numeric version range: versions are
        # allocated globally across refs, so abandoned-branch commits
        # can sit inside (base_v, head_v] numerically — they were never
        # applied to this chain and must not widen (or, if expired,
        # crash) the revert
        affected: set[int] = set()
        v = head_v
        while v > base_v:
            s = table.snapshot(v)
            affected.update(s.get("commit_buckets", []))
            v = int(s.get("parent_version", -1))
    if not affected:
        # later commits wrote no data (property-only) — just reset the fence
        empty = table.read_files(buckets=[])  # 0 rows, head schema
        out = empty.withColumn("_bucket", F.lit(0).cast("int"))
        snap = table.commit(
            out.limit(0),
            replace_buckets=set(),
            app_id=app_id,
            epoch=epoch,
            properties=props,
            lineage={**lineage_base, "buckets": 0},
        )
        return {"base_version": base_v, "buckets_reverted": 0, "version": snap["version"]}

    # row-identical pre-reorg content of the affected buckets: the raw
    # file rows visible to those buckets at the base version, full LWW
    # history included — the replace commit rewrites them as one file
    # per bucket and swaps the buckets' file lists in one shot
    restored = table.read_files(buckets=sorted(affected), version=base_v)
    out = restored.withColumn(
        "_bucket", bucket_expr(F.col("doc_id"), head["num_buckets"])
    )
    snap = table.commit(
        out,
        replace_buckets=affected,
        app_id=app_id,
        epoch=epoch,
        properties=props,
        lineage={**lineage_base, "buckets": len(affected)},
    )
    return {
        "base_version": base_v,
        "buckets_reverted": len(affected),
        "version": snap["version"],
    }

"""Versioned parquet state dirs — the one append-only table rule under
every incremental-state family:

- the gram census (:func:`caspr_spark.streaming.gram_census_sink`,
  merged by :func:`~caspr_spark.llm.dedup.merge_gram_censuses`);
- the exact-dedup key table
  (:func:`caspr_spark.llm.dedup.append_history_keys_state`, a
  first-seen-wins election);
- the near-dedup signature table
  (:func:`caspr_spark.llm.dedup.append_history_signatures_state`);
- the IVF index (:func:`caspr_spark.llm.similarity.append_ivf_state`,
  stamped with ``centroid_fp``);
- the PQ code table (:func:`caspr_spark.llm.pq.append_pq_state`,
  stamped with ``codebook_fp``);
- and the tombstone side-stream each of them can carry
  (:func:`append_deletes_state`).

Every family commits through :func:`fold_commit` and reads through
:func:`read_live_frames` (the live frames, oldest first). The three
union families (signatures, IVF, PQ) share the rest of the rule here:
:func:`union_frames` is their merge, :func:`read_masked_state` their
read (union, then :func:`apply_deletes_state`), :func:`compact_merge`
their compaction (union, then bake the deletes in), :func:`check_stamp`
the quantizer guard of fold, search and vacuum, and
:func:`vacuum_state` the forced compact plus prune. No other module
reads a state frame.

One state dir holds immutable per-commit subdirs named
``{kind}{batch_id}``:

- ``v{b}`` — a FULL state frame (rebuild layout: each commit rewrites
  everything; simple, O(state) writes);
- ``c{b}`` — a COMPACT (delta layout: a full frame as of batch ``b``);
- ``d{b}`` — a DELTA (delta layout: only batch ``b``'s own rows —
  O(batch) writes; readers merge the newest compact with every younger
  delta, bounded by the compaction cadence).

Commit rules shared by every writer:

- a dir COUNTS only when parquet's ``_SUCCESS`` marker exists — a
  crashed write leaves no marker and is invisible to listings;
- writes go to NEW paths only (never overwrite live state — parquet a
  lazy reader still holds truncates mid-scan). ``mode('overwrite')``
  is used solely because the target can pre-exist as a markerless
  crashed attempt of the SAME batch id (ids never reuse);
- a batch id already committed is a post-crash replay: the fold MUST
  skip it (the committed state is the truth — re-folding would
  double-count);
- the delta-vs-compact decision must be a pure function of the
  committed set, so a replay after a crash re-decides identically;
- ONE WRITER PER STATE DIR: the protocol serializes commits by batch
  id, not by writer — two concurrent writers (e.g. two streams
  misconfigured onto one state dir with different checkpoints, each
  numbering batches from its own checkpoint) would interleave batch
  ids and each see the other's commits as replays to skip. The
  out-of-order refusal catches most interleavings after the fact;
  :func:`claim_writer` is the up-front tripwire — a ``_writer`` lease
  carrying the writer's identity, refused on mismatch at the first
  fold instead of corrupting quietly. The streaming sinks always arm
  it with the stream's query id, which Structured Streaming keeps in
  the checkpoint: a restart from the same checkpoint re-claims, a
  stream under another checkpoint refuses. Direct (non-stream) folds
  take no lease and run every state probe instead; and since a leased
  stream skips those probes, :func:`fold_commit` refuses any new
  commit onto a claimed dir from a writer other than its lease holder
  (direct callers included).

Everything goes through the Hadoop FileSystem API, not ``os`` — state
dirs are ``hdfs://``/``s3a://`` in production, local only in tests.
"""

from __future__ import annotations

import json
import uuid

from caspr_spark.sources import local_frame

_KINDS = {"v": "full", "c": "compact", "d": "delta"}
_PREFIX = {v: k for k, v in _KINDS.items()}


def _fs(spark, state_dir: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(state_dir)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def state_listing(spark, state_dir: str) -> list[tuple[int, str]]:
    """Committed state dirs as sorted ``(batch_id, kind)`` pairs, where
    kind is ``'full'`` / ``'compact'`` / ``'delta'``."""
    jvm, fs, jpath = _fs(spark, state_dir)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if (st.isDirectory() and name[:1] in _KINDS
                and name[1:].isdigit()):
            marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if fs.exists(marker):
                out.append((int(name[1:]), _KINDS[name[:1]]))
    return sorted(out)


def state_path(state_dir: str, batch_id: int, kind: str) -> str:
    return f"{state_dir}/{_PREFIX[kind]}{batch_id}"


def committed_output_ids(spark, out_dir: str,
                         prefix: str = "k") -> list[int]:
    """Batch ids of committed (``_SUCCESS``-marked) OUTPUT dirs named
    ``{prefix}{batch_id}`` under ``out_dir`` — the output-side
    companion to :func:`state_listing` for sinks that emit a per-batch
    data dir alongside their state fold (e.g. the streaming corpus
    dedup's kept-docs dirs). Markerless dirs (crashed attempts) are
    invisible, same rule as state frames."""
    jvm, fs, jpath = _fs(spark, out_dir)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if (st.isDirectory() and name.startswith(prefix)
                and name[len(prefix):].isdigit()):
            marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if fs.exists(marker):
                out.append(int(name[len(prefix):]))
    return sorted(out)


def output_committed(spark, out_path: str) -> bool:
    """O(1) commit check for ONE per-batch output dir: does
    ``out_path/_SUCCESS`` exist? The hot-path form of
    :func:`committed_output_ids` — a sink asking about its OWN batch's
    dir on every micro-batch must not pay a full ``out_dir`` listing
    plus one marker probe per accumulated dir (~9k RPCs per batch
    after a year of hourly crawls)."""
    jvm, fs, jpath = _fs(spark, out_path)
    return bool(fs.exists(
        jvm.org.apache.hadoop.fs.Path(jpath, "_SUCCESS")))


def probe_newest_nonempty(spark, state_dir: str, exprs: list):
    """One row of ``exprs`` from the newest NON-EMPTY live frame of a
    versioned state dir, probing PAST empty frames (a batch where
    every row deduped/filtered away commits a zero-row delta — routine
    for streaming sinks), or ``None`` when no live frame has rows.
    The shared guard-probe for state writers that enforce a
    constant-per-table contract (the signature table's
    family/width, :func:`check_stamp`'s quantizer fingerprints):
    file-backed reads, never a recompute. Each probed frame costs 2
    Spark jobs (measured with ``statusTracker``: the read's schema
    inference plus the ``limit(1)``), so an empty newest delta makes
    the probe 4."""
    frames = live_frames(state_listing(spark, state_dir))
    for b, k in reversed(frames):
        probe = (spark.read.parquet(state_path(state_dir, b, k))
                 .select(*exprs).limit(1).collect())
        if probe:
            return probe[0]
    return None


def check_layout(listing: list, layout: str, state_dir: str) -> None:
    """One state dir, one layout: raise when committed kinds don't
    match the writer's layout (``'rebuild'`` = full only, ``'delta'``
    = compact/delta only)."""
    want = {"full"} if layout == "rebuild" else {"compact", "delta"}
    stray = {k for _, k in listing} - want
    if stray:
        raise RuntimeError(
            f"state under {state_dir} holds {sorted(stray)} dirs but "
            f"this sink writes layout={layout!r} — one state dir, one "
            "layout")


def live_frames(listing: list,
                before: int | None = None) -> list[tuple[int, str]]:
    """The frames a reader must merge, oldest first: in the delta
    layout the newest compact plus every younger delta; in the rebuild
    layout just the newest full frame. ``before`` restricts to commits
    with a smaller batch id (what a fold at that id builds on).
    Raises on a mixed-layout listing."""
    if before is not None:
        listing = [(b, k) for b, k in listing if b < before]
    if not listing:
        return []
    kinds = {k for _, k in listing}
    if "full" in kinds and kinds != {"full"}:
        raise RuntimeError(
            "mixed state layouts (rebuild v* dirs alongside delta "
            "c*/d* dirs) — one state dir, one layout")
    if kinds == {"full"}:
        return [listing[-1]]
    compacts = [b for b, k in listing if k == "compact"]
    base = max(compacts) if compacts else None
    out = [(base, "compact")] if base is not None else []
    out += [(b, k) for b, k in listing
            if k == "delta" and (base is None or b > base)]
    return out


def union_frames(frames: list):
    """``unionByName`` of ``frames`` in order — the whole merge of the
    signature, IVF and PQ tables, whose batches carry disjoint ids by
    contract (a replayed batch id never reaches a merge)."""
    if not frames:
        raise ValueError("union_frames needs at least one frame")
    u = frames[0]
    for f in frames[1:]:
        u = u.unionByName(f)
    return u


def read_live_frames(spark, state_dir: str, what: str,
                     frames: list | None = None) -> list:
    """The live frames of ``state_dir`` as DataFrames, oldest first
    (``frames``: an already-decided ``live_frames`` list). Raises
    ``no committed {what} state`` when there is none."""
    if frames is None:
        frames = live_frames(state_listing(spark, state_dir))
    if not frames:
        raise RuntimeError(f"no committed {what} state under {state_dir}")
    return [spark.read.parquet(state_path(state_dir, b, k))
            for b, k in frames]


def claim_writer(spark, state_dir: str, writer_id: str) -> None:
    """Single-writer tripwire (see the module docstring's contract):
    claim ``state_dir`` for ``writer_id`` — the stable identity of the
    logical writer: the streaming sinks pass the stream's query id
    (the ``sql.streaming.queryId`` local property of a
    ``foreachBatch`` thread, kept in the checkpoint, so the same after
    a restart and different under another checkpoint). The first claim
    writes a ``_writer`` lease (JSON, staged to a per-attempt temp file
    then renamed into place — the rename is the claim, so a crash
    mid-write can never leave a zero-byte/partial lease — and EVERY
    claim, renamed or not, is verified by reading the surviving lease
    back: on filesystems where rename replaces an existing destination
    a racing claimer could otherwise overwrite a winner silently); a
    re-claim with the SAME id is a no-op (restarts of
    the same stream re-claim freely); a claim with a DIFFERENT id
    raises before anything is written — two writers with separate
    checkpoints each number batches from their own frontier, so
    letting both fold would interleave batch ids and make each treat
    the other's commits as replays to skip. The lease is advisory
    (delete ``_writer`` to hand the dir to a new owner); it exists to
    make the misconfiguration loud, not to arbitrate live concurrency.
    Genuine create failures (permissions, quota) propagate instead of
    being folded into the race path, and an unreadable/corrupt lease
    reports itself as such rather than as a JSON traceback."""
    jvm, fs, jpath = _fs(spark, state_dir)
    lease = jvm.org.apache.hadoop.fs.Path(jpath, "_writer")
    if not fs.exists(lease):
        fs.mkdirs(jpath)
        # Per-ATTEMPT temp name (uuid, not a writer_id hash): two
        # concurrent first-claimers with the SAME id — the supported
        # same-stream restart race — must not share a staging path, or
        # one's create(overwrite) truncates the other's in-flight file
        # and a partial lease could still be renamed into place.
        suffix = uuid.uuid4().hex[:12]
        tmp = jvm.org.apache.hadoop.fs.Path(jpath, f"_writer.tmp.{suffix}")
        out = fs.create(tmp, True)
        out.write(bytearray(
            json.dumps({"writer_id": writer_id}).encode("utf-8")))
        out.close()
        # A successful rename is NOT proof of ownership: HDFS's rename
        # returns false when the destination exists, but
        # RawLocalFileSystem (and POSIX rename generally) silently
        # REPLACES it and returns true — two racing first-claimers with
        # different ids could then both believe they won. So never
        # early-return on the rename; always fall through to the
        # read-back comparison below, which sees whichever lease
        # actually survived the race and raises on a mismatch.
        if not fs.rename(tmp, lease):
            fs.delete(tmp, False)   # lost the first-claim race — compare
    stored = _read_lease(jvm, fs, lease, state_dir)
    if stored != writer_id:
        raise _claimed(state_dir, stored, writer_id)


def _lease_holder(spark, state_dir: str) -> str | None:
    """The writer id the ``_writer`` lease of ``state_dir`` names, or
    ``None`` when the dir is unclaimed."""
    jvm, fs, jpath = _fs(spark, state_dir)
    lease = jvm.org.apache.hadoop.fs.Path(jpath, "_writer")
    if not fs.exists(lease):
        return None
    return _read_lease(jvm, fs, lease, state_dir)


def _read_lease(jvm, fs, lease, state_dir: str) -> str:
    """The writer id in the ``lease`` file. An unreadable/corrupt
    lease raises rather than reporting itself as a JSON traceback."""
    stream = fs.open(lease)
    try:
        raw = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    try:
        return json.loads(raw).get("writer_id")
    except ValueError as exc:
        raise RuntimeError(
            f"the _writer lease under {state_dir} is unreadable "
            f"({exc}) — likely a partial write from a pre-rename-era "
            "crash or an external editor; delete the _writer file to "
            "re-claim the dir") from exc


def _claimed(state_dir: str, stored, writer_id) -> RuntimeError:
    return RuntimeError(
        f"state dir {state_dir} is claimed by writer "
        f"{stored!r} but this writer is {writer_id!r} — one state "
        "dir takes ONE writer (interleaved batch ids from separate "
        "checkpoints corrupt the fold order); point this stream at "
        "its own state dir, or delete the _writer lease to hand "
        "over ownership")


def fold_commit(spark, state_dir: str, batch_id: int, layout: str,
                compact_every: int, batch_frame, merge_fn,
                partition_by: list[str] | None = None,
                force_compact: bool = False) -> None:
    """The one commit step both state writers share (the census sink
    and the key-table fold): decide replay/out-of-order/delta/compact
    from the committed listing, merge when compacting, write with the
    crashed-attempt-overwrite rule.

    ``batch_frame`` is the batch's OWN state frame (already built);
    ``merge_fn(frames) -> frame`` merges live frames oldest-first.
    Replayed (already-committed) batch ids are a no-op; an UNCOMMITTED
    id at or below the committed frontier raises — read-side merging
    orders frames by batch id, so a late fold would either be silently
    excluded (below a compact) or rewrite history, never something to
    do quietly. A new commit onto a dir whose ``_writer`` lease names
    another writer than the calling thread's stream (a direct caller
    has none) raises too, before anything is written.

    ``partition_by`` writes each frame hive-partitioned on the given
    columns, so readers that filter or join on them get partition
    pruning (static or dynamic) instead of full-frame scans — the IVF
    ingest index uses this to make a probe read only its cells'
    files. An EMPTY frame falls back to a plain (unpartitioned) write:
    a partitioned write of zero rows emits no part files at all and
    the frame becomes unreadable; the plain empty file keeps the
    schema, and read-side ``unionByName`` merges the two layouts
    transparently (the check costs one ``limit(1)`` probe of the
    frame, paid only on this opt-in path).

    ``force_compact`` makes a delta-layout fold commit a COMPACT
    regardless of the cadence — the vacuum hook: a merge_fn that
    resolves tombstones gets to bake them into a full frame NOW
    (superseding every masked row) instead of waiting for the
    ``compact_every`` boundary. Still a pure function of the call's
    arguments, so a replay of the same fold re-decides identically.

    SCHEMA is part of the one-dir-one-table contract: a batch frame
    whose column set or types drift from the committed state refuses
    BEFORE any bytes are written (the same pre-write discipline as
    the signature family/width guards) — a drifted delta would commit
    fine and then poison every later read or compaction with a
    union error (or, worse, a silent numeric widening). The check is
    one parquet-footer schema read of the newest committed frame;
    column ORDER is free (hive-partitioned frames read their
    partition column last), evolution means a new state dir or an
    explicit migration rewrite."""
    if layout not in ("rebuild", "delta"):
        raise ValueError(f"layout must be 'rebuild' or 'delta', "
                         f"got {layout!r}")
    if compact_every < 2:
        raise ValueError(f"compact_every must be >= 2, got {compact_every}")
    listing = state_listing(spark, state_dir)
    check_layout(listing, layout, state_dir)
    if listing:
        newest_b, newest_k = listing[-1]
        stored = {(f.name, f.dataType.simpleString())
                  for f in spark.read.parquet(
                      state_path(state_dir, newest_b, newest_k)).schema}
        batch = {(f.name, f.dataType.simpleString())
                 for f in batch_frame.schema}
        if stored != batch:
            raise ValueError(
                f"state under {state_dir} holds schema "
                f"{sorted(stored)} but this fold's batch frame has "
                f"{sorted(batch)} — one state dir, one schema: a "
                "drifted delta would poison later reads/compactions; "
                "migrate to a new state dir (or rewrite all frames) "
                "to evolve the schema")
    if batch_id in {b for b, _ in listing}:
        return                           # committed replay — skip
    # a new commit onto a claimed dir must come from the lease holder:
    # the holder's stream skips the state probes that would catch an
    # incommensurable frame (direct callers have no query id)
    writer_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    stored = _lease_holder(spark, state_dir)
    if stored is not None and stored != writer_id:
        raise _claimed(state_dir, stored, writer_id)
    if any(b >= batch_id for b, _ in listing):
        raise ValueError(
            f"batch_id {batch_id} is not newer than the committed "
            f"state under {state_dir} — merges order frames by batch "
            "id, so an out-of-order fold would be silently excluded "
            "or rewrite history")
    live = live_frames(listing, before=batch_id)
    if live and (layout == "rebuild" or force_compact
                 or sum(k == "delta" for _, k in live) + 1
                 >= compact_every):
        frame = merge_fn(read_live_frames(spark, state_dir, "base", live)
                         + [batch_frame])
        kind = "full" if layout == "rebuild" else "compact"
    elif layout == "rebuild":
        frame, kind = batch_frame, "full"
    elif not live:
        frame, kind = batch_frame, "compact"   # first commit IS full
    else:
        frame, kind = batch_frame, "delta"
    # overwrite is safe HERE and only here: the dir can only pre-exist
    # as a markerless crashed attempt of this same batch id
    writer = frame.write.mode("overwrite")
    if partition_by and not frame.isEmpty():
        writer = writer.partitionBy(*partition_by)
    writer.parquet(state_path(state_dir, batch_id, kind))


def describe_state(spark, state_dir: str) -> dict:
    """One-call operational inspection of a versioned state dir —
    everything an on-call debugging a sink wants to know, from pure
    filesystem listings (NO Spark jobs, no frame reads): the committed
    frames with per-frame file counts and bytes, which of them a
    reader would merge (``live``), the layout and commit frontier, the
    ``_writer`` lease owner (``None`` if unclaimed, the string
    ``"<corrupt>"`` if unreadable — delete the lease to re-claim),
    markerless dirs (crashed attempts, invisible to readers and safe
    to ignore: the protocol rewrites them on replay), and stray lease
    temp files (pre-rename crash debris, also ignorable)."""
    jvm, fs, jpath = _fs(spark, state_dir)
    out = {"state_dir": state_dir, "frames": [], "live": [],
           "layout": None, "frontier": None, "writer": None,
           "markerless": [], "stray_tmp": []}
    if not fs.exists(jpath):
        return out
    committed = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name[:1] in _KINDS and name[1:].isdigit():
            marker = jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")
            if not fs.exists(marker):
                out["markerless"].append(name)
                continue
            files = n_bytes = 0
            mtime = st.getModificationTime()
            stack = [st.getPath()]
            while stack:
                for sub in fs.listStatus(stack.pop()):
                    if sub.isDirectory():
                        stack.append(sub.getPath())
                    elif not sub.getPath().getName().startswith(("_", ".")):
                        files += 1
                        n_bytes += sub.getLen()
                        mtime = max(mtime, sub.getModificationTime())
            committed.append((int(name[1:]), _KINDS[name[:1]],
                              files, n_bytes, mtime))
        elif name.startswith("_writer.tmp"):
            out["stray_tmp"].append(name)
    committed.sort()
    out["frames"] = [{"batch_id": b, "kind": k, "files": f, "bytes": n,
                      "mtime_ms": m}
                     for b, k, f, n, m in committed]
    listing = [(b, k) for b, k, _, _, _ in committed]
    if listing:
        out["frontier"] = listing[-1][0]
        kinds = {k for _, k in listing}
        out["layout"] = ("rebuild" if kinds == {"full"} else
                         "delta" if "full" not in kinds else "MIXED")
        try:
            out["live"] = [{"batch_id": b, "kind": k}
                           for b, k in live_frames(listing)]
        except RuntimeError:
            pass                      # mixed layout — live set undefined
    try:
        out["writer"] = _lease_holder(spark, state_dir)
    except RuntimeError:
        out["writer"] = "<corrupt>"
    return out


def prune_state(spark, state_dir: str, keep_last: int = 2) -> list[int]:
    """Delete SUPERSEDED committed state, layout-aware (see
    :func:`caspr_spark.streaming.prune_census_state` for the consumer-
    facing contract): rebuild keeps the newest ``keep_last`` full
    frames; delta keeps everything from the ``keep_last``-th-newest
    compact on (compacts are restore points, younger deltas are live
    data). Deliberate conservatism: deltas BETWEEN kept compacts are
    also retained even though the newer compact supersedes them —
    they are what lets a restore REPLAY forward from the older compact
    if the newer one is ever found bad; dropping them would make the
    older restore point cosmetic. Markerless dirs are never touched.
    Returns deleted ids."""
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    listing = state_listing(spark, state_dir)
    kinds = {k for _, k in listing}
    if "full" in kinds and kinds != {"full"}:
        raise RuntimeError(
            f"mixed state layouts under {state_dir} — refusing to prune")
    if kinds == {"full"}:
        doomed = listing[:-keep_last] if len(listing) > keep_last else []
    else:
        compacts = [b for b, k in listing if k == "compact"]
        if len(compacts) < keep_last:
            doomed = []
        else:
            floor = compacts[-keep_last]
            doomed = [(b, k) for b, k in listing if b < floor]
    if not doomed:
        return []
    jvm, fs, _ = _fs(spark, state_dir)
    for b, kind in doomed:
        fs.delete(jvm.org.apache.hadoop.fs.Path(state_path(state_dir, b,
                                                           kind)), True)
    return [b for b, _ in doomed]


# ---------------------------------------------------------------------------
# Deletion tombstones — the forget-document / right-to-erasure side-stream.
#
# A versioned state table is append-only by construction: once a row folds
# in, nothing in the protocol removes it. For a 100 TB training-data store
# that is a lifecycle gap, not a feature — a withdrawn/poisoned document's
# dedup keys suppress future legitimate docs forever, and a deleted corpus
# document's embedding stays searchable forever. Tombstones close it with
# the same machinery: a DELETES side-stream (its own versioned state dir
# nested under the parent at ``{state_dir}/deletes`` — the name matches no
# ``[vcd]{digits}`` frame pattern, so parent listings/prune/describe never
# see it) holds id-only frames folded under the identical commit protocol
# (``_SUCCESS`` markers, replay skip, out-of-order refusal, its own
# compaction cadence with a ``distinct`` merge). Readers anti-join the
# delete set; every parent COMPACT bakes resolved deletes in (the compact
# is the full state, so masked rows simply leave it), and ``prune_state``
# on the parent then erases the superseded frames' bytes — that is the
# GDPR story: tombstone → next compact → prune, with only the deleted IDS
# (never content) retained as the audit trail. The delete set is ids-only
# and distinct-compacted, so the standing anti-join cost is one broadcast
# against O(distinct deleted ids) — negligible beside the frames it masks.
# ---------------------------------------------------------------------------

_DELETES_SUBDIR = "deletes"


def deletes_dir(state_dir: str) -> str:
    """The tombstone side-stream's own state dir, nested under the
    parent. Invisible to the parent's frame listing by naming (no
    ``[vcd]{digits}`` match), so the two fold streams never interfere."""
    return f"{state_dir}/{_DELETES_SUBDIR}"


def append_deletes_state(spark, state_dir: str, batch_id: int,
                         ids_frame, compact_every: int = 8) -> None:
    """Fold a tombstone batch (id rows ONLY — one column, named the
    same as the parent table's id column) into the delete side-stream
    under ``state_dir``. Same contract as every fold: caller-supplied
    strictly-increasing ``batch_id`` (its OWN sequence, independent of
    the parent's — the two streams have separate frontiers), replayed
    ids skip, out-of-order ids refuse. The ids take effect immediately
    on any read that goes through :func:`apply_deletes_state`.
    Compaction merges with ``distinct``: repeated deletes of one id
    are routine (a re-submitted erasure request, a replayed delete
    day), so the standing delete set stays bounded by DISTINCT ids."""
    if len(ids_frame.columns) != 1:
        raise ValueError(
            f"tombstone frames carry exactly ONE column (the parent "
            f"table's id column), got {ids_frame.columns} — select the "
            "id before folding so no content rides into the delete "
            "stream")
    fold_commit(spark, deletes_dir(state_dir), batch_id, "delta",
                compact_every, ids_frame,
                lambda frames: union_frames(frames).distinct())


def read_deletes_state(spark, state_dir: str):
    """The current delete set under ``state_dir`` — one distinct-ish
    id column (distinct is guaranteed only at compaction; consumers
    anti-join, which doesn't care) — or ``None`` when no tombstone has
    ever been folded. The no-tombstones probe is one filesystem
    listing, so delete-free tables keep their exact pre-tombstone read
    plans."""
    frames = live_frames(state_listing(spark, deletes_dir(state_dir)))
    if not frames:
        return None
    return union_frames(read_live_frames(spark, deletes_dir(state_dir),
                                         "tombstone", frames))


def apply_deletes_state(spark, state_dir: str, frame,
                        id_col: str | None = None):
    """Mask the current delete set out of ``frame`` (a merged read of
    the parent's live frames): broadcast anti-join on the tombstone id
    column. ``id_col`` defaults to the delete frames' own single
    column name — which the parent contract requires to match the
    parent's id column; a frame that lacks it raises rather than
    silently returning unmasked rows. No tombstones → ``frame``
    untouched (and the plan unchanged)."""
    from pyspark.sql import functions as _F

    deletes = read_deletes_state(spark, state_dir)
    if deletes is None:
        return frame
    col = id_col or deletes.columns[0]
    if col not in frame.columns:
        raise ValueError(
            f"delete stream under {deletes_dir(state_dir)} tombstones "
            f"column {col!r} but the state frame has columns "
            f"{frame.columns} — the tombstone id column must match the "
            "parent table's id column")
    return frame.join(
        _F.broadcast(deletes.select(_F.col(deletes.columns[0])
                                    .alias(col)).distinct()),
        on=col, how="left_anti")


def read_masked_state(spark, state_dir: str, what: str,
                      id_col: str | None = None):
    """The current table of a union family (signatures, IVF, PQ): its
    live frames unioned oldest first, minus tombstoned ``id_col``
    values (default: the first column, the ingest contract's id). A
    tombstone-free dir keeps its exact pre-tombstone plan."""
    merged = union_frames(read_live_frames(spark, state_dir, what))
    return apply_deletes_state(spark, state_dir, merged,
                               id_col or merged.columns[0])


def compact_merge(spark, state_dir: str, id_col: str):
    """The ``merge_fn`` of a union family's :func:`fold_commit`: union
    the live frames, then BAKE IN the current delete set — the compact
    is the full state, so a tombstoned row simply leaves it, and
    pruning the superseded frames erases its bytes. Runs only when
    ``fold_commit`` compacts, so delta folds stay O(batch)."""
    def merge(frames):
        return apply_deletes_state(spark, state_dir, union_frames(frames),
                                   id_col)
    return merge


def check_stamp(spark, state_dir: str, col: str, stamp: str,
                what: str) -> None:
    """The quantizer guard of a stamped family's fold, search and
    vacuum: every frame carries a constant ``col`` (the IVF
    ``centroid_fp``, the PQ ``codebook_fp``), and a ``stamp`` other
    than the committed one refuses — cells or codes from two
    quantizers are incommensurable, and mixing them returns wrong
    neighbours silently. Probes the newest NON-EMPTY live frame
    (:func:`probe_newest_nonempty`: an empty delta is probed past, not
    trusted); an empty or absent state passes."""
    probe = probe_newest_nonempty(spark, state_dir, [col])
    if probe is not None and probe[0] != stamp:
        raise ValueError(
            f"{what} state under {state_dir} carries fingerprint "
            f"{col}={probe[0]!r} but this call uses {stamp!r}; frames "
            "from different quantizers are incommensurable — pass the "
            "quantizer the state was ingested under, or use a new "
            "state dir")


def vacuum_state(spark, state_dir: str, batch_id: int, id_col: str,
                 col: str, stamp: str, what: str, keep_last: int,
                 partition_by: list[str] | None = None) -> list[int]:
    """Force tombstone resolution NOW (the erasure-deadline path) for
    a stamped family: after :func:`check_stamp`, commit a FORCED
    compact — the batch is the newest live frame's ``limit(0)``, an
    empty, schema-exact frame, so the :func:`compact_merge` bakes the
    current delete set into a full frame — then prune the superseded
    frames (``keep_last``), erasing the deleted rows' bytes.
    ``batch_id`` comes from the SAME sequence as the ingest folds (the
    vacuum IS a fold). Returns the pruned batch ids."""
    frames = live_frames(state_listing(spark, state_dir))
    if not frames:
        raise RuntimeError(
            f"no committed {what} state under {state_dir} — nothing to "
            "vacuum")
    check_stamp(spark, state_dir, col, stamp, what)
    newest = read_live_frames(spark, state_dir, what, frames[-1:])[0]
    fold_commit(spark, state_dir, batch_id, "delta", 2, newest.limit(0),
                compact_merge(spark, state_dir, id_col),
                partition_by=partition_by, force_compact=True)
    return prune_state(spark, state_dir, keep_last)


# ---------------------------------------------------------------------------
# Fleet health checks — expectations over MANY state dirs.
#
# ``describe_state`` inspects one dir; an on-call running a fleet of sinks
# (a dedup key table, a signature table, a gram census, an IVF index, each
# with its own state dir) wants validate_expectations-style RULES evaluated
# across all of them in one call: is the lease held by the writer I expect,
# is the compaction cadence actually bounding the live delta count, how old
# is the newest fold, is pruning keeping total bytes down, is there crash
# debris. Pure driver-side listing logic (one ``describe_state`` per dir,
# NO Spark jobs over data) returning the same long-format report shape
# ``operators.expect.validate_expectations`` emits — one row per
# (state_dir, rule), so the fleet dashboard is one DataFrame.
# ---------------------------------------------------------------------------

_STATE_RULES = ("writer_is", "layout_is", "max_live_deltas",
                "max_fold_age_sec", "frontier_at_least", "no_markerless",
                "no_stray_tmp", "max_live_bytes")


def _state_rule_check(desc: dict, rule: dict, now_ms: int):
    """(observed string, passed bool) for one rule over one
    ``describe_state`` result."""
    kind = rule["rule"]
    frames = {(f["batch_id"], f["kind"]): f for f in desc["frames"]}
    live = [frames[(x["batch_id"], x["kind"])] for x in desc["live"]]
    if kind == "writer_is":
        want = rule.get("writer_id")
        return str(desc["writer"]), desc["writer"] == want
    if kind == "layout_is":
        return str(desc["layout"]), desc["layout"] == rule["layout"]
    if kind == "max_live_deltas":
        n = sum(f["kind"] == "delta" for f in live)
        return str(n), n <= rule["max"]
    if kind == "max_fold_age_sec":
        if not frames:
            return "no frames", False
        age = (now_ms - max(f["mtime_ms"] for f in desc["frames"])) / 1000.0
        return f"{age:.1f}", age <= rule["max"]
    if kind == "frontier_at_least":
        f = desc["frontier"]
        return str(f), f is not None and f >= rule["min"]
    if kind == "no_markerless":
        n = len(desc["markerless"])
        return str(n), n == 0
    if kind == "no_stray_tmp":
        n = len(desc["stray_tmp"])
        return str(n), n == 0
    if kind == "max_live_bytes":
        n = sum(f["bytes"] for f in live)
        return str(n), n <= rule["max"]
    raise ValueError(f"unknown rule {kind!r}; expected one of "
                     f"{_STATE_RULES}")


def expect_state(spark, state_dirs: list[str], rules: list[dict],
                 now_ms: int | None = None):
    """Evaluate operational health ``rules`` over MANY versioned state
    dirs in one call — the fleet twin of
    :func:`~caspr_spark.operators.expect.validate_expectations`'s
    data-quality report. Rules (each a dict with ``rule`` plus its
    parameters): ``writer_is`` (lease holder equals ``writer_id``;
    pass ``None`` to demand UNCLAIMED), ``layout_is`` (``layout`` in
    rebuild/delta — also catches MIXED corruption), ``max_live_deltas``
    (``max``: the compaction cadence is actually bounding the read-side
    merge width), ``max_fold_age_sec`` (``max``: the sink is alive —
    newest committed file no older than this), ``frontier_at_least``
    (``min``: ingest has reached a batch id), ``no_markerless`` /
    ``no_stray_tmp`` (crash debris), ``max_live_bytes`` (``max``:
    pruning/compaction is keeping the live set's storage bounded).

    Pure filesystem listings (``describe_state`` per dir — no Spark
    jobs over state data); the report materializes driver-side into a
    small DataFrame: (state_dir, rule_id, rule, observed, passed), in
    (dir, rule) order. ``now_ms`` pins the age clock for deterministic
    tests; defaults to the current wall clock."""
    import time

    if not state_dirs:
        raise ValueError("expect_state needs at least one state dir")
    if not rules:
        raise ValueError("expect_state needs at least one rule")
    for r in rules:
        if r.get("rule") not in _STATE_RULES:
            raise ValueError(f"unknown rule {r.get('rule')!r}; expected "
                             f"one of {_STATE_RULES}")
    now = int(time.time() * 1000) if now_ms is None else now_ms
    report = []
    for d in state_dirs:
        desc = describe_state(spark, d)
        for i, rule in enumerate(rules):
            observed, passed = _state_rule_check(desc, rule, now)
            report.append((d, i, rule["rule"], observed, bool(passed)))
    return local_frame(
        spark, report,
        "state_dir string, rule_id int, rule string, "
        "observed string, passed boolean")
